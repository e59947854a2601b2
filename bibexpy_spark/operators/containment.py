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


def _outer_legs(
    keyed: DataFrame, c: int, lens_src: DataFrame | None = None
) -> DataFrame:
    """Outer-side legs for SHORT inners, (outer_id, L, okey): each doc
    explodes over L ∈ [1, min(len-1, C-1)], keyed by its first L chars.
    With ``lens_src`` a broadcast left-semi join on L drops the lengths no
    short inner of ``lens_src`` has INSIDE the same stage — explode, probe,
    substring all ride one WholeStageCodegen span, so only surviving legs
    reach the exchange, and the length source is part of the plan (no
    driver action, no staleness).  Carries NO text: a short inner's key is
    its whole document, so the (L, okey) equi-join itself proves
    ``startswith`` and the exploded copies stay a few dozen bytes wide."""
    legs = keyed.filter(F.col("len") >= 2).withColumn(
        "L", F.explode(F.sequence(F.lit(1), F.least(F.col("len") - 1, F.lit(c - 1))))
    )
    if lens_src is not None:
        # ≤ C-1 rows from the plan, not a driver collect: lengths baked in
        # as literals would freeze at build time, and a plan re-executed
        # over changed data would miss pairs at new lengths (r4 review)
        lens = lens_src.filter((F.col("klen") > 0) & (F.col("klen") < c)).select(
            F.col("klen").alias("L")
        )
        legs = legs.join(F.broadcast(lens.distinct()), "L", "left_semi")
    return legs.select(
        F.col("conv_id").alias("outer_id"),
        "L",
        F.substring("norm_text", 1, F.col("L")).alias("okey"),
    )


def _short_inners(keyed: DataFrame, c: int) -> DataFrame:
    """Inner side for SHORT inners (0 < len < C): keyed on the whole text."""
    return keyed.filter((F.col("klen") < c) & (F.col("len") > 0)).select(
        F.col("conv_id").alias("inner_id"),
        F.col("klen").alias("L"),
        F.col("pkey").alias("okey"),
    )


def _short_pairs(inners: DataFrame, outers: DataFrame) -> DataFrame:
    """The (L, okey) equi-join of short inners and outer legs — equal first
    L chars with outer_len > L = inner_len is exactly strict prefix
    containment, so the join is the verification."""
    return (
        inners.join(outers, ["L", "okey"])
        .filter(F.col("inner_id") != F.col("outer_id"))
        .select("inner_id", "outer_id")
    )


def _long_pairs(keyed: DataFrame, c: int, new_col: str | None = None) -> DataFrame:
    """LONG inners (≥ C chars): one row per doc on each side keyed on the
    first C chars, ``startswith`` verifies the tail beyond the key — the
    only leg that moves document text.

    ``new_col`` (a boolean column) makes the join delta-driven: only pairs
    with >= 1 new endpoint come out, and both sides are semi-joined to the
    keys of new rows first (broadcast: the key set is delta-sized).  Such a
    pair shares its key with that new row, so the prune is lossless, and
    quiet old blocks never enter the join."""

    def side(df: DataFrame, role: str) -> DataFrame:
        return df.select(
            F.col("conv_id").alias(f"{role}_id"),
            F.col("norm_text").alias(f"{role}_text"),
            F.col("len").alias(f"{role}_len"),
            F.col("pkey").alias("okey"),
            *([F.col(new_col).alias(f"_{role}_new")] if new_col else []),
        )

    inner = side(keyed.filter(F.col("klen") == c), "inner")
    outer = side(keyed.filter(F.col("len") > c), "outer")
    keep = (F.col("inner_id") != F.col("outer_id")) & (
        F.col("inner_len") < F.col("outer_len")
    )
    if new_col:
        new_keys = (
            inner.filter("_inner_new").select("okey")
            .unionByName(outer.filter("_outer_new").select("okey"))
            .distinct()
        )
        inner = inner.join(F.broadcast(new_keys), "okey", "left_semi")
        outer = outer.join(F.broadcast(new_keys), "okey", "left_semi")
        keep = keep & (F.col("_inner_new") | F.col("_outer_new"))
    return (
        inner.join(outer, "okey")
        .filter(keep)
        .filter(F.col("outer_text").startswith(F.col("inner_text")))
        .select("inner_id", "outer_id")
    )


def prefix_containment_pairs(
    new: DataFrame, cfg: DedupConfig, old: DataFrame | None = None
) -> DataFrame:
    """Pairs (inner_id, outer_id) where inner's normalized doc is a strict
    prefix-anchored substring of outer's — fully JVM-side.

    Two disjoint equi-join legs, split on inner key length (r4): LONG
    (klen = C) through :func:`_long_pairs`, SHORT (0 < klen < C) through
    :func:`_short_pairs`, where the inner keys on its WHOLE text and the
    outer emits one slim leg per short length (:func:`_outer_legs`).

    LOSSLESS at every inner length: an inner with klen = L has its first L
    chars equal to the outer's first L chars (prefix property), and the
    outer emits a leg for every short L observed among docs plus the
    full-width leg (r4 review fix: the old first-N-token key missed inners
    shorter than N tokens and the exactly-N-token inner whose last token
    char-extends in the outer).

    With ``old`` (the prior corpus minus retracted rows) only the pairs
    with >= 1 endpoint in ``new`` come out; old-old pairs already live in
    the prior pair state, so

        prior_pairs(minus pairs touching retracted ids) ∪ delta_pairs
            == prefix_containment_pairs(old ∪ new)

    Scale shape: only blocks holding a new row enter a join, and the old
    corpus is never scanned for its key lengths, so cost is O(|delta| +
    touched blocks), never O(|corpus|²); every semi-join that prunes by
    the new rows' keys broadcasts them.  The short legs split into two
    directions, disjoint by outer origin:

      * NEW short inners × OLD outers — old legs are pruned in-stage to the
        lengths, then the (L, okey) keys, of new short inners, so a delta
        without short docs makes the old corpus emit nothing;
      * ALL short inners × NEW outers — new docs explode over the whole
        1..C-1 range, inners semi-pruned to the new legs' keys; covers
        new×new pairs too."""
    c = _prefix_chars(cfg)
    if old is None:
        keyed = _prefix_keyed(new, cfg)
        return _long_pairs(keyed, c).unionByName(
            _short_pairs(_short_inners(keyed, c), _outer_legs(keyed, c, keyed))
        )
    oldk = _prefix_keyed(old, cfg, F.lit(False).alias("_is_new"))
    newk = _prefix_keyed(new, cfg, F.lit(True).alias("_is_new"))
    allk = oldk.unionByName(newk)
    new_inners = _short_inners(newk, c)
    old_outers = _outer_legs(oldk, c, newk).join(
        F.broadcast(new_inners.select("L", "okey").distinct()), ["L", "okey"], "left_semi"
    )
    new_outers = _outer_legs(newk, c)
    all_inners = _short_inners(allk, c).join(
        F.broadcast(new_outers.select("L", "okey").distinct()), ["L", "okey"], "left_semi"
    )
    return (
        _long_pairs(allk, c, "_is_new")
        .unionByName(_short_pairs(new_inners, old_outers))
        .unionByName(_short_pairs(all_inners, new_outers))
    )


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
    (already minus retracted rows) and only pairs with >= 1 endpoint in
    ``new`` are generated.  Both join sides are semi-join-pruned to
    shingles occurring in a NEW row (a broadcast set), which drops NO
    qualifying hit: a (new probe, *) hit uses a shingle from the new row's
    own sample, and a (old probe, new index) hit uses a shingle from the
    new row's full set — so quiet-old rows never enter the join and the
    pair set equals the batch op's restricted to >= 1-new-endpoint pairs.
    The index is pruned BEFORE the df aggregate: a kept shingle's df still
    counts every old and new row holding it, so batch and delta cap
    identically, while the aggregate's shuffle holds only the delta's
    shingles.  The counters then count only those shingles.  The scan of
    the old shingle arrays remains the one full-corpus term (at 10^12 rows
    maintain shingle df as incremental state instead).
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
    if old is not None:
        new_sh = new.select(F.explode("shingles").alias("sh")).distinct()
        index = index.join(F.broadcast(new_sh), "sh", "left_semi")
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
        probe = probe.join(F.broadcast(new_sh), "sh", "left_semi")
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

    With ``old`` (the prior corpus minus retracted rows) only the pairs
    with >= 1 endpoint in ``new`` come out, so

        prior_pairs(minus pairs touching retracted ids) ∪ delta_pairs
            == general_containment_pairs(old ∪ new)

    (tested for both backends).  Scale shape: the prefix leg prunes quiet
    blocks by semi-join (see :func:`prefix_containment_pairs`); the interior
    leg prunes both join sides, and the df-cap aggregate, to shingles
    occurring in a new row (losslessness argument in
    :func:`_oriented_containment_candidates`) — only the scan of the old
    shingle arrays touches the full corpus.

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
