"""Substring-containment pass (the "suffix" pass of the north rule).

The reference dedups citation strings by containment-ish key equality
(merge_references, MergeDB.py:210-278: AUTHOR_year key extraction, shorter
record folded into longer).  Generalized to transcripts: find conversation
pairs where one normalized document is an exact substring of another.

Two candidate generators:

  * prefix blocking — block key = first C normalized CHARACTERS (C = 8 ×
    cfg.containment_prefix_tokens, ≈ the old N-token key's width); docs
    shorter than C key on their full text and join outer-side legs cut at
    exactly their length, so the leg is lossless for prefix containment at
    ANY inner length (FIXTURES.md class ``contain``).  Char keys, not token
    keys: a char-prefix inner need not be token-aligned in the outer (inner
    '… foo' / outer '… foobar'), which a first-N-token key would miss;
  * shingle-containment blocking — pairs sharing enough shingles relative to
    the SMALLER set (containment score |A∩B|/|A|), generated by exploding a
    deterministic sample of each row's shingles (min-m sketch: the m smallest
    shingle hashes, which is closed under subset relations on the low end) —
    scales as an equi-join with per-shingle frequency capping.

Two verify backends over the shingle candidates (``_verify_with_pos``;
same pairs and offsets, tested), chosen by ``MODE_BACKEND``:

  * ``contains`` — one codegen ``instr`` scan per pair (no Python; the
    default);
  * ``suffix_array`` — a real suffix array per OUTER document
    (kernels.suffix_array), probed once per inner candidate; amortizes hot
    outers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from bibexpy_spark.config import DedupConfig

# pipeline ``containment_mode`` -> verify backend of the complete pass
# (``"prefix"`` runs the prefix pass only)
MODE_BACKEND = {"prefix": None, "general": "contains", "general_sa": "suffix_array"}


def _prefix_chars(cfg: DedupConfig) -> int:
    """Char width of the prefix block key (≈ 8 chars per configured token)."""
    return cfg.containment_prefix_tokens * 8


def _prefix_keyed(df: DataFrame, cfg: DedupConfig, *extra) -> DataFrame:
    """(conv_id, norm_text, len, klen, pkey): pkey = first min(len, C)
    chars, klen = its exact length — the inner-side join key is (klen,
    pkey), so a short doc keys on its FULL text."""
    c = _prefix_chars(cfg)
    return df.select(
        "conv_id",
        "norm_text",
        F.length("norm_text").alias("len"),
        F.least(F.length("norm_text"), F.lit(c)).alias("klen"),
        F.substring("norm_text", 1, c).alias("pkey"),
        *extra,
    )


def _short_len_df(keyed: DataFrame, c: int) -> DataFrame:
    """One-column frame of the distinct SHORT inner key lengths (0 < klen
    < C) present in ``keyed`` — ≤ C-1 rows, broadcast into the leg prune.
    A DataFrame, not a driver collect: baking observed lengths into the
    plan as literals would freeze them at build time, so a returned plan
    re-executed over changed source data would silently miss pairs at
    newly-appeared lengths (r4 review)."""
    return (
        keyed.filter((F.col("klen") > 0) & (F.col("klen") < c))
        .select(F.col("klen").alias("L"))
        .distinct()
    )


def _outer_legs_pruned(keyed: DataFrame, lens_src: DataFrame, c: int) -> DataFrame:
    """Outer-side short legs, lazily pruned to the inner lengths observed
    in ``lens_src``: each doc explodes over L ∈ [1, min(len-1, C-1)] and a
    broadcast left-semi join on L drops unobserved lengths INSIDE the same
    stage — explode, probe, substring all ride one WholeStageCodegen span,
    so only surviving slim (id, L, first-L-chars) legs reach the exchange.
    Same row set as the old literal-array explode, but the lens source is
    part of the plan (no driver action, no staleness) and the prune is a
    ≤C-1-row BroadcastHashJoin, not a nested loop."""
    return (
        keyed.filter(F.col("len") >= 2)
        .withColumn(
            "L",
            F.explode(F.sequence(F.lit(1), F.least(F.col("len") - 1, F.lit(c - 1)))),
        )
        .join(F.broadcast(_short_len_df(lens_src, c)), "L", "left_semi")
        .select(
            "conv_id",
            "L",
            F.substring("norm_text", 1, F.col("L")).alias("okey"),
        )
    )


def _outer_legs(keyed: DataFrame, lens: list[int]) -> DataFrame:
    """Outer-side join legs for SHORT inner key lengths over a STATIC,
    data-independent ``lens`` list (the delta op's full [1, C) range): one
    row per (doc, L) for every L in ``lens`` with doc len > L, keyed by the
    outer's first-L chars.  Exploding a literal length array stays inside
    WholeStageCodegen (a broadcast ``len > L`` theta-join would plan as
    BroadcastNestedLoopJoin).  Carries NO text: a short inner's key is its
    whole document, so the equi-join itself proves ``startswith`` and the
    exploded copies stay a few dozen bytes wide (ids + ≤C-char key) —
    full documents never fan out ×|lens| through the exchange.  For
    DATA-DEPENDENT length sets use :func:`_outer_legs_pruned`, which keeps
    the length source inside the plan."""
    legs = F.array(*[F.lit(int(l)) for l in lens]) if lens else F.array().cast("array<int>")
    return (
        keyed.withColumn("L", F.explode(legs))
        .filter(F.col("len") > F.col("L"))
        .select(
            "conv_id",
            "L",
            F.substring("norm_text", 1, F.col("L")).alias("okey"),
        )
    )


def prefix_containment_pairs(
    new: DataFrame, cfg: DedupConfig, old: DataFrame | None = None
) -> DataFrame:
    """Pairs (inner_id, outer_id) where inner's normalized doc is a strict
    prefix-anchored substring of outer's — fully JVM-side.  With ``old``
    (the prior corpus minus re-signed rows) only the pairs with >= 1
    endpoint in ``new`` come out, through the delta plan of
    :func:`_prefix_pairs_delta`; without it, the batch plan below.

    Two disjoint equi-join legs (split on inner key length, r4):

      * LONG (klen = C, i.e. inner ≥ C chars): classic first-C-chars key,
        one row per doc on each side, ``startswith`` verifies the tail
        beyond the key — the only leg that moves document text;
      * SHORT (0 < klen < C): the inner keys on its WHOLE text, the outer
        emits one slim (id, L, first-L-chars) leg per observed short
        length, and the (L, okey) equi-join IS the verification — equal
        first-L chars with outer_len > L = inner_len is exactly strict
        prefix containment, so no text crosses the exchange.

    LOSSLESS at every inner length: an inner with klen = L has its first L
    chars equal to the outer's first L chars (prefix property), and the
    outer emits a leg for every short L observed among docs plus the
    full-width leg (r4 review fix: the old first-N-token key missed inners
    shorter than N tokens and the exactly-N-token inner whose last token
    char-extends in the outer)."""
    if old is not None:
        return _prefix_pairs_delta(old, new, cfg)
    c = _prefix_chars(cfg)
    keyed = _prefix_keyed(new, cfg)

    a_long = keyed.filter(F.col("klen") == c).select(
        F.col("conv_id").alias("inner_id"),
        F.col("norm_text").alias("inner_text"),
        F.col("len").alias("inner_len"),
        F.col("pkey").alias("okey"),
    )
    b_long = keyed.filter(F.col("len") > c).select(
        F.col("conv_id").alias("outer_id"),
        F.col("norm_text").alias("outer_text"),
        F.col("len").alias("outer_len"),
        F.col("pkey").alias("okey"),
    )
    long_pairs = (
        a_long.join(b_long, "okey")
        .filter(
            (F.col("inner_id") != F.col("outer_id"))
            & (F.col("inner_len") < F.col("outer_len"))
        )
        .filter(F.col("outer_text").startswith(F.col("inner_text")))
        .select("inner_id", "outer_id")
    )

    a_short = keyed.filter((F.col("klen") < c) & (F.col("len") > 0)).select(
        F.col("conv_id").alias("inner_id"),
        F.col("klen").alias("L"),
        F.col("pkey").alias("okey"),
    )
    b_short = _outer_legs_pruned(keyed, keyed, c).select(
        F.col("conv_id").alias("outer_id"), "L", "okey"
    )
    short_pairs = (
        a_short.join(b_short, ["L", "okey"])
        .filter(F.col("inner_id") != F.col("outer_id"))
        .select("inner_id", "outer_id")
    )
    return long_pairs.unionByName(short_pairs)


def _prefix_pairs_delta(
    old_signed: DataFrame, new_signed: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Delta-driven prefix containment (incremental mode, r4): emit exactly
    the pairs with >= 1 endpoint in ``new_signed``; old-old pairs already
    live in the prior pair state, so

        prior_pairs(minus pairs touching re-signed ids) ∪ delta_pairs
            == prefix_containment_pairs(old ∪ new)

    Scale shape: only pkey blocks CONTAINING a new row enter the join (the
    semi-join prunes the old corpus's quiet blocks), so cost is
    O(|delta| + touched blocks), never O(|corpus|²)."""

    oldk = _prefix_keyed(old_signed, cfg, F.lit(False).alias("_is_new"))
    newk = _prefix_keyed(new_signed, cfg, F.lit(True).alias("_is_new"))
    allk = oldk.unionByName(newk)
    c = _prefix_chars(cfg)

    # LONG leg (inner ≥ C chars) — same split as the batch op; a pair with
    # >= 1 new endpoint shares its okey with that new row, so pruning both
    # sides to keys observed on new rows is lossless for the delta contract
    a_long = allk.filter(F.col("klen") == c).select(
        F.col("conv_id").alias("inner_id"),
        F.col("norm_text").alias("inner_text"),
        F.col("len").alias("inner_len"),
        F.col("_is_new").alias("_inner_new"),
        F.col("pkey").alias("okey"),
    )
    b_long = allk.filter(F.col("len") > c).select(
        F.col("conv_id").alias("outer_id"),
        F.col("norm_text").alias("outer_text"),
        F.col("len").alias("outer_len"),
        F.col("_is_new").alias("_outer_new"),
        F.col("pkey").alias("okey"),
    )
    new_keys_long = (
        a_long.filter("_inner_new").select("okey")
        .unionByName(b_long.filter("_outer_new").select("okey"))
        .distinct()
    )
    long_pairs = (
        a_long.join(new_keys_long, "okey", "left_semi")
        .join(b_long.join(new_keys_long, "okey", "left_semi"), "okey")
        .filter(
            (F.col("inner_id") != F.col("outer_id"))
            & (F.col("inner_len") < F.col("outer_len"))
            & (F.col("_inner_new") | F.col("_outer_new"))
        )
        .filter(F.col("outer_text").startswith(F.col("inner_text")))
        .select("inner_id", "outer_id")
    )

    # SHORT legs (0 < inner len < C) — join-implied verification, no text.
    # Two disjoint directions, NEITHER running any driver action nor
    # exploding the quiet old corpus:
    #   d1: NEW short inners × OLD outers — old-doc legs are pruned
    #       in-stage (broadcast semi on L, then on (L, okey)) to key
    #       lengths/keys observed among NEW inners, so when the delta
    #       holds no short docs the old corpus emits nothing;
    #   d2: ALL short inners × NEW outers — new docs explode over the
    #       static 1..C-1 range (≤C-1 slim legs per DELTA doc; no lens scan
    #       of the old corpus needed), inners semi-pruned to the new legs'
    #       keys.  Covers new×new pairs too; disjoint from d1 by outer
    #       origin (old vs new).
    def _short_inners(df: DataFrame) -> DataFrame:
        return df.filter((F.col("klen") < c) & (F.col("len") > 0)).select(
            F.col("conv_id").alias("inner_id"),
            F.col("klen").alias("L"),
            F.col("pkey").alias("okey"),
        )

    a_new = _short_inners(newk)
    new_inner_keys = a_new.select("L", "okey").distinct()
    b_old = (
        _outer_legs_pruned(oldk, newk, c)
        .join(new_inner_keys, ["L", "okey"], "left_semi")
        .select(F.col("conv_id").alias("outer_id"), "L", "okey")
    )
    d1 = (
        a_new.join(b_old, ["L", "okey"])
        .filter(F.col("inner_id") != F.col("outer_id"))
        .select("inner_id", "outer_id")
    )

    b_new = _outer_legs(newk, list(range(1, c))).select(
        F.col("conv_id").alias("outer_id"), "L", "okey"
    )
    new_outer_keys = b_new.select("L", "okey").distinct()
    a_all = _short_inners(allk).join(new_outer_keys, ["L", "okey"], "left_semi")
    d2 = (
        a_all.join(b_new, ["L", "okey"])
        .filter(F.col("inner_id") != F.col("outer_id"))
        .select("inner_id", "outer_id")
    )
    return long_pairs.unionByName(d1).unionByName(d2)


def _oriented_containment_candidates(
    new: DataFrame,
    sample_m: int,
    containment_threshold: float,
    max_shingle_freq: int,
    old: DataFrame | None = None,
    shingle_counts: Observation | None = None,
) -> DataFrame:
    """Shared candidate stage for the two general-containment backends:
    candidates by shared sampled shingles, scored by |A∩B| / |A| over FULL
    shingle sets, oriented so inner = shorter normalized text.  Returns
    (inner_id, outer_id, inner_text, outer_text) — UNVERIFIED: the caller
    must still check actual substring occurrence.

    Probe side = each row's ``sample_m`` smallest shingle hashes; index side
    = FULL shingle sets (inverted index).  If A ⊆ B as shingle sets, A's own
    minima are necessarily present in B's full index, so candidate capture is
    lossless for true containment.  Shingles occurring in more than
    ``max_shingle_freq`` rows are dropped from the index (bounds join
    fan-out at web scale).  Never silent: ``shingle_counts`` observes
    ``hot_shingles`` (dropped) and ``indexed_shingles`` (distinct shingles
    before the cap) on the df aggregate, so the counts arrive with the
    action that computes the pairs.

    Delta mode (``old`` given): ``old`` is the quiet prior corpus
    (already minus re-signed rows) and only pairs with >= 1 endpoint in
    ``new`` are generated.  Both join sides are semi-join-pruned to
    shingles occurring in a NEW row, which drops NO qualifying hit: a
    (new probe, *) hit uses a shingle from the new row's own sample, and a
    (old probe, new index) hit uses a shingle from the new row's full set —
    so quiet-old rows never enter the join and the pair set equals the batch
    op's restricted to >= 1-new-endpoint pairs.  The df cap stays computed
    on the FULL active index (one map-side-combined scan-agg, the only
    full-corpus term — at 10^12 rows maintain shingle df as incremental
    state instead) so batch and delta cap identically.
    """

    def _base(df: DataFrame, is_new: bool) -> DataFrame:
        return df.select(
            "conv_id",
            "norm_text",
            "shingles",
            F.size("shingles").alias("sh_n"),
            F.lit(is_new).alias("_is_new"),
        )

    base = _base(new, True)
    if old is not None:
        base = _base(old, False).unionByName(base)
    index = base.select("conv_id", "_is_new", F.explode("shingles").alias("sh"))
    freq = index.groupBy("sh").agg(F.count("*").alias("df"))
    if shingle_counts is not None:
        metrics = (
            F.coalesce(
                F.sum((F.col("df") > max_shingle_freq).cast("long")), F.lit(0)
            ).alias("hot_shingles"),
            F.count(F.lit(1)).alias("indexed_shingles"),
        )
        # adaptive execution drops this frame when no candidate survives
        # the cap — the case where the hot count matters most — so the
        # counters then recount it
        shingle_counts.recount = freq.agg(*metrics)
        freq = freq.observe(shingle_counts, *metrics)
    index = index.join(freq.filter(F.col("df") <= max_shingle_freq), "sh")
    probe = base.select(
        "conv_id",
        "_is_new",
        F.explode(F.slice(F.array_sort("shingles"), 1, sample_m)).alias("sh"),
    )
    if old is not None:
        new_sh = new.select(F.explode("shingles").alias("sh")).distinct()
        index = index.join(new_sh, "sh", "left_semi")
        probe = probe.join(new_sh, "sh", "left_semi")
    index = index.select(
        F.col("conv_id").alias("idx_id"), F.col("_is_new").alias("_idx_new"), "sh"
    )
    probe = probe.select(
        F.col("conv_id").alias("probe_id"), F.col("_is_new").alias("_probe_new"), "sh"
    )

    cand = (
        probe.join(index, "sh")
        .filter(F.col("probe_id") != F.col("idx_id"))
        .filter(F.col("_probe_new") | F.col("_idx_new"))
        .select(
            F.least("probe_id", "idx_id").alias("a_id"),
            F.greatest("probe_id", "idx_id").alias("b_id"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )

    # explode-join-regroup (r4 review): each pair's texts + shingle arrays
    # cross ONE exchange in the regroup, instead of the a-side payload
    # riding through two chained joins (verify.verify_pairs' endpoint-join
    # chain, whose side table carries no texts).  The per-side presence
    # guard drops any candidate with an endpoint missing from base (cannot
    # happen for candidates generated above; guards future callers against
    # a silent self-containment of 1.0) without silently dropping pairs
    # when base carries a duplicate conv_id (a caller bug — a row count of
    # 2 would lose the pair).
    fetched = cand.select(
        "a_id", "b_id", F.explode(F.array("a_id", "b_id")).alias("conv_id")
    ).join(base.select("conv_id", "norm_text", "shingles", "sh_n"), "conv_id")
    is_a = F.col("conv_id") == F.col("a_id")
    j = (
        fetched.groupBy("a_id", "b_id")
        .agg(
            F.sum(is_a.cast("int")).alias("_na"),
            F.sum((~is_a).cast("int")).alias("_nb"),
            F.max_by("norm_text", is_a).alias("a_text"),
            F.min_by("norm_text", is_a).alias("b_text"),
            F.max_by("shingles", is_a).alias("a_sh"),
            F.min_by("shingles", is_a).alias("b_sh"),
            F.max_by("sh_n", is_a).alias("a_n"),
            F.min_by("sh_n", is_a).alias("b_n"),
        )
        .filter((F.col("_na") >= 1) & (F.col("_nb") >= 1))
    )
    j = j.withColumn("inter", F.size(F.array_intersect("a_sh", "b_sh")))
    j = j.withColumn(
        "containment", F.col("inter") / F.least("a_n", "b_n")
    ).filter(F.col("containment") >= containment_threshold)
    # orient: inner = shorter text
    j = j.select(
        F.when(F.length("a_text") <= F.length("b_text"), F.col("a_id"))
        .otherwise(F.col("b_id"))
        .alias("inner_id"),
        F.when(F.length("a_text") <= F.length("b_text"), F.col("b_id"))
        .otherwise(F.col("a_id"))
        .alias("outer_id"),
        F.when(F.length("a_text") <= F.length("b_text"), F.col("a_text"))
        .otherwise(F.col("b_text"))
        .alias("inner_text"),
        F.when(F.length("a_text") <= F.length("b_text"), F.col("b_text"))
        .otherwise(F.col("a_text"))
        .alias("outer_text"),
    )
    return j.filter(F.length("inner_text") < F.length("outer_text")).dropDuplicates(
        ["inner_id", "outer_id"]
    )


_SUFFIX_VERIFY_SCHEMA = "inner_id string, outer_id string, pos bigint"


def _verify_with_pos(cand: DataFrame, backend: str) -> DataFrame:
    """Verify oriented candidates, emitting (inner_id, outer_id, pos) with
    pos = leftmost match offset, -1 rows dropped.  ``contains`` = one
    codegen ``instr`` scan per pair; ``suffix_array`` = the literal
    "suffix-array pass" of the north rule: candidates grouped by OUTER
    document, whose suffix array (``kernels.suffix_array``, vectorized
    prefix doubling) is built ONCE and answers every inner candidate with
    an O(m log n) leftmost-occurrence binary search (``kernels.sa_find``)
    inside one Arrow batch.  A hot outer with many inner candidates (the
    boilerplate pile-up shape) amortizes the build where ``instr`` rescans
    the outer per pair.  ``pos`` is a CHARACTER offset in both backends
    (the suffix array's byte offset is converted, so they agree even when
    ``norm_text`` keeps non-ASCII text)."""
    if backend == "contains":
        # instr is 1-based, 0 = absent: one codegen scan yields verify + pos
        return (
            cand.withColumn(
                "pos", F.expr("instr(outer_text, inner_text)").cast("bigint") - 1
            )
            .filter(F.col("pos") >= 0)
            .select("inner_id", "outer_id", "pos")
        )
    if backend != "suffix_array":
        raise ValueError(f"unknown containment backend: {backend!r}")

    def _verify(pdf):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        from bibexpy_spark.functions import kernels

        outer_id = pdf["outer_id"].iloc[0]
        outer_s = pdf["outer_text"].iloc[0]
        outer = outer_s.encode("utf-8")
        sa = kernels.suffix_array(outer)
        # pos contract: CHARACTER offset (the `contains` backend's instr
        # semantics).  sa_find returns a BYTE offset; UTF-8 is self-
        # synchronizing, so a byte-level match of a valid needle always
        # starts on a char boundary — subtracting the continuation bytes
        # before it converts exactly.  Skipped entirely for ASCII outers
        # (byte len == char len), the normalize_text common case.
        cont = None
        if len(outer) != len(outer_s):
            import numpy as np  # noqa: PLC0415 — worker-side import

            ob = np.frombuffer(outer, dtype=np.uint8)
            cont = ((ob & 0xC0) == 0x80).astype(np.int64).cumsum()
        rows = []
        for inner_id, inner in zip(pdf["inner_id"], pdf["inner_text"]):
            pos = kernels.sa_find(outer, sa, inner.encode("utf-8"))
            if pos >= 0:
                if cont is not None and pos:
                    pos = int(pos - cont[pos - 1])
                rows.append((inner_id, outer_id, pos))
        return pd.DataFrame(rows, columns=["inner_id", "outer_id", "pos"])

    return cand.groupBy("outer_id").applyInPandas(_verify, _SUFFIX_VERIFY_SCHEMA)


def _complete_pairs(
    prefix_pairs: DataFrame, cand: DataFrame, backend: str
) -> DataFrame:
    """Prefix pairs at pos 0 unioned with the backend-verified interior
    candidates, one row per pair at its leftmost offset (min pos)."""
    pref = prefix_pairs.select("inner_id", "outer_id").withColumn(
        "pos", F.lit(0).cast("bigint")
    )
    return (
        pref.unionByName(_verify_with_pos(cand, backend))
        .groupBy("inner_id", "outer_id")
        .agg(F.min("pos").alias("pos"))
    )


def general_containment_pairs(
    new: DataFrame,
    cfg: DedupConfig,
    old: DataFrame | None = None,
    backend: str = "contains",
    sample_m: int = 16,
    containment_threshold: float = 0.9,
    max_shingle_freq: int = 10_000,
    prefix_pairs: DataFrame | None = None,
    shingle_counts: Observation | None = None,
) -> DataFrame:
    """The COMPLETE containment pass: prefix-anchored pairs (lossless
    equi-join — also covers shingle-less short inners) unioned with interior
    pairs from the shingle candidates, verified by the chosen backend.
    Returns (inner_id, outer_id, pos) where pos is the leftmost match offset
    in the outer's normalized text (prefix pairs are pos 0 by definition;
    duplicates across the two generators collapse via min(pos), which is
    also the leftmost-occurrence semantics).

    ``prefix_pairs``: the output of :func:`prefix_containment_pairs` over
    the same inputs, when the caller already materialized it (the
    pipeline always does) — passing it avoids executing the prefix-key
    self-join a second time here.  ``shingle_counts`` observes the df cap's
    counters (see :func:`_oriented_containment_candidates`).

    With ``old`` (the prior corpus minus re-signed rows) only the pairs
    with >= 1 endpoint in ``new`` come out, so

        prior_pairs(minus pairs touching re-signed ids) ∪ delta_pairs
            == general_containment_pairs(old ∪ new)

    (tested for both backends).  Scale shape: the prefix leg prunes quiet
    blocks by semi-join (see :func:`_prefix_pairs_delta`); the interior
    leg prunes both join sides to shingles occurring in a new row
    (losslessness argument in :func:`_oriented_containment_candidates`) —
    only the df-cap scan-agg touches the full corpus.

    Equality boundary (r4 review): the interior leg's candidate capture is
    df-dependent, so the equality above is exact only while no shingle's
    document frequency CROSSES ``max_shingle_freq`` between batches.  A
    shingle going hot after a pair was captured leaves the composed state
    holding a backend-VERIFIED true pair the fresh batch run would now
    miss (composed ⊇ batch on that side — strictly closer to ground
    truth); a shingle cooling below the cap (mass retraction) can let a
    fresh batch run find an old-old pair the delta ops never re-probe.
    Both divergences are df-cap capture artifacts, never silent: the
    ``hot_shingles`` counter reports the dropped shingles; corpora whose
    shingle dfs sit near the cap should raise ``max_shingle_freq`` or
    maintain shingle-df state (the 10^12-row note in
    :func:`_oriented_containment_candidates`).
    """
    if prefix_pairs is None:
        prefix_pairs = prefix_containment_pairs(new, cfg, old)
    cand = _oriented_containment_candidates(
        new, sample_m, containment_threshold, max_shingle_freq, old=old,
        shingle_counts=shingle_counts,
    )
    return _complete_pairs(prefix_pairs, cand, backend)
