"""n-gram Jaccard near-dup pairs: lossless two-phase plan.

Phase 1 (candidates), default = PREFIX FILTERING (SSJoin ICDE'06 / ppjoin
WWW'08): under the global (df, h) gram order, a pair with Jaccard >= t must
share a gram inside BOTH docs' length-(|g| - ceil(t·|g|) + 1) prefixes, so
only the ~(1-t) fraction of rarest grams per doc enters the inverted-index
equi-join — exactly lossless by the prefix-filter theorem, and df-ascending
ordering keeps ubiquitous "stopword grams" (the hot-band analogue of the
reference's empty-key block pile-up, smart_merger.py:189-197) structurally
out of prefixes.  Candidates are further pruned losslessly by the LENGTH
filter (size-ratio at the index join, before any pair shuffle), the
ppjoin POSITIONAL filter (per-match overlap upper bound from the matched
gram's ranks in both sorted arrays; see inline derivation), and the
SINGLETON prune (df == 1 grams are ranked — they legitimately occupy
prefix slots — but never join anything, and they are ~60% of prefix rows
on the sf0.1 transcript corpus: dropping them shrinks both shuffle sides
of the candidate self-join 2.5x).  Every doc keeps >= 1 prefix gram, so
all-boilerplate rows still pair without any df cap or fallback;
prefix_index_stats reports the realized prefix size and max prefix-gram df
(boilerplate pile-up is never silent).

Phase 2 (verify): fetch the FULL gram sets (xxhash64-compressed to long
arrays) for both pair endpoints and compute the exact intersection/union
with JVM-native ``array_intersect`` — whole-stage codegen, no Python, and
exact w.r.t. the all-pairs SQL oracle.

Verify-join shape (r6, replacing the r3 explode-join-regroup): the
``cand ⋈ rows ⋈ rows`` endpoint chain with both sides projected
canonically identically, so the planner REUSES one exchange (or one
broadcast) of the row arrays for both endpoint fetches — R + P array
shipments for R rows / P candidate pairs, vs the regroup's R + 2P
(R by id + 2P through the pair-key groupBy shuffle).  When the row table
fits the broadcast threshold (AQE decides from real sizes) the pair
stream crosses no array-carrying shuffle at all; a hot endpoint lands in
a join, where AQE skew-split applies.  Plan-tested in
test_plan_properties.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W


def with_grams(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """id, norm, grams (distinct word-k-gram strings; SQL-reproducible:
    lower -> non-alnum runs -> space -> trim -> split -> k-grams)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "))
    toks = F.split(norm, " ")
    grams = F.array_distinct(
        F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            ),
        ).otherwise(F.array(norm))
    )
    return df.select(F.col(id_col).alias("id"), grams.alias("grams"))


#: count-bucket sketch geometry (see verify_gram_pairs): SK_B buckets of
#: 4-bit saturating gram counts packed 16 lanes per long
SK_B = 128
SK_LONGS = SK_B // 16

#: candidate-mass crossover for the low-threshold row-wise + sketch path
#: (sum_h pdf^2 over the prefix index, an upper bound on candidate pairs):
#: measured 0.7M at sf0.1 documents (aggregate 1.9s vs sketch 3.4s) and
#: 111M at the 50k-doc sf1.0 corpus (sketch 6.7s vs aggregate 33s) — any
#: value between those regimes separates them; the pair-aggregate's
#: shuffle grows linearly with this mass while the sketch path's fixed
#: costs (two extra broadcast builds + the 128-term bound filter) do not
SKETCH_CANDIDATE_MASS = 4_000_000


def with_gram_hashes(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """id, gh (sorted distinct int64 gram hashes), sk, sk_ok — hot-path form.

    Semantically a gram is the k-token window from :func:`with_grams`; the
    hash path only needs gram IDENTITY (Jaccard over hashes equals Jaccard
    over gram strings up to the usual ~n²/2⁶⁵ 64-bit collision mass, the
    same class the previous xxhash64-on-gram-string plan accepted).

    Computed in the vectorized Arrow kernel (``kernels.word_kgram_sets``:
    batch tokenize, vocabulary-deduplicated token hashing, flat-window
    multiply-xor fold) rather than SQL higher-order functions — MEASURED
    rationale: a ``transform``/``aggregate`` projection is CodegenFallback,
    so the whole gram stage runs on the interpreted expression path; at
    sf0.1 its first execution in a fresh JVM took 130-220s (JIT-cold
    interpreter, 32 threads contending for the compile queue) vs ~5-11s
    warm, while the numpy kernel needs no JVM warmup and is the same code
    path the pipeline's signature stage already scales on (kernel scaling
    efficiency 0.86 in BENCH.md).  Short docs (< k tokens) keep one
    whole-doc gram; empty docs hash the empty string — both matching
    :func:`with_grams` equality classes.

    """
    from bibexpy_spark.functions import kernels

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def gram_udf(texts: pd.Series) -> pd.Series:
        norm = (
            texts.fillna("")
            .str.lower()
            .str.replace("[^a-z0-9]+", " ", regex=True)
            .str.strip()
        )
        sets = kernels.word_kgram_sets(norm, k)
        return pd.Series([np.sort(s.view(np.int64)) for s in sets])

    return df.select(
        F.col(id_col).alias("id"), gram_udf(F.col(text_col)).alias("gh")
    )


def with_gram_sketch(hashed: DataFrame) -> DataFrame:
    """(id, gh) -> (id, n, sk, sk_ok): the count-bucket sketch metadata the
    two-stage verify prefilter consumes (see verify_gram_pairs).

    bucket = low-7-bits of the gram hash; SK_B=128 buckets of 4-bit counts
    packed into SK_LONGS longs.  ``sk_ok`` is False when any bucket count
    exceeds 15 — such a doc's pairs skip the bound filter (saturated
    counts cannot carry the lossless bound) and go straight to the exact
    intersection.  Computed as a small vectorized pass over the gram-hash
    frame (typically the persisted one), only where the sketched verify
    actually uses it — the gram frame itself keeps its lean (id, gh)
    shape for every other consumer.
    """
    shifts = np.arange(16, dtype=np.uint64) * np.uint64(4)

    @F.pandas_udf("sk array<bigint>, sk_ok boolean")
    def sketch_udf(ghs: pd.Series) -> pd.DataFrame:
        sks, oks = [], []
        mask = np.int64(SK_B - 1)
        for g in ghs:
            arr = np.asarray(g, dtype=np.int64)
            cnt = np.bincount((arr & mask), minlength=SK_B)
            ok = bool(cnt.max(initial=0) <= 15)
            if not ok:
                cnt = np.minimum(cnt, 15)
            packed = (
                (cnt.astype(np.uint64).reshape(SK_LONGS, 16) << shifts)
                .sum(axis=1)
                .view(np.int64)
            )
            sks.append(packed)
            oks.append(ok)
        return pd.DataFrame({"sk": sks, "sk_ok": oks})

    return hashed.select(
        "id", F.size("gh").alias("n"), sketch_udf(F.col("gh")).alias("_s")
    ).select("id", "n", "_s.sk", "_s.sk_ok")


def gram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    t_num: int,
    t_den: int,
    cache_registry: list | None = None,
) -> DataFrame:
    """Pairs with exact gram-Jaccard >= t_num/t_den.

    Output: a_id, b_id, inter, union_n, jaccard — identical to the all-pairs
    definition (see module docstring for the losslessness argument).

    ``cache_registry``: the operator persists its gram-hash frame — the
    widest frame of the job.  A long-lived session looping this operator
    must release it: pass a list and unpersist its entries after
    materializing the result (the pattern
    incremental.run_incremental_dedup exposes via its cleanup hook; r4
    review).

    Phase 1 is PREFIX FILTERING (Chaudhuri/Ganti/Kaushik, SSJoin ICDE'06;
    Xiao et al. ppjoin WWW'08): under the global (df, h) gram order, any
    pair with Jaccard >= t must share a gram inside BOTH docs' prefixes of
    length |g| - ceil(t * |g|) + 1 — so only ~(1 - t)|g| rarest grams per
    doc enter the candidate index (5x smaller at t = 0.8).  Exactly
    lossless by the prefix-filter theorem (property-tested vs brute
    force); every doc always keeps >= 1 gram, so boilerplate rows whose
    every gram is frequent still pair.  df-ascending order also
    structurally keeps ubiquitous boilerplate grams OUT of prefixes
    (prefix_index_stats reports the realized max prefix-gram df).
    """
    # gram identities as longs from the start (with_gram_hashes: per-token
    # xxhash64 + chained fold — no gram-string allocation on the hot path)
    hashed = with_gram_hashes(df, id_col, text_col, k).persist()
    if cache_registry is not None:
        cache_registry.append(hashed)

    ex = hashed.select("id", F.size("gh").alias("n_g"), F.explode("gh").alias("h"))
    # r6 physical restructure (same candidates, same output — guide §2.3/
    # §2.4): only grams with global df >= 2 ever reach the candidate
    # join (SINGLETON prune: a df == 1 gram meets only itself in the
    # self-equi-join and x.id < y.id discards that row), so the df
    # attach-join now INNER-joins against the df >= 2 slice of the
    # frequency table instead of joining every exploded gram row and
    # filtering after ranking.  That shrinks the join output (and the
    # window input) by the unique-gram mass — the dominant mass of a
    # mostly-novel corpus — and the df >= 2 side is small enough that
    # AQE picks a broadcast join from its real post-shuffle size at
    # bench scale (no second full exchange of the exploded grams) while
    # degrading to the same sort-merge join as before at 100-TB scale.
    #
    # Rank correction keeps the GLOBAL (df, h) prefix order exact: a
    # doc's df == 1 grams all sort BEFORE its df >= 2 grams (df = 1 is
    # the minimum), so with n1 = n_g - n2 singleton grams the full-order
    # rank of a surviving gram is _rk = n1 + rk2, and the prefix
    # condition _rk <= n_g - ceil_t + 1 becomes rk2 <= n2 - ceil_t + 1.
    # Both windows share one (id)-partitioned exchange+sort, now over
    # the df >= 2 rows only.
    freq2 = (
        ex.groupBy("h").agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
    )
    # SHUFFLE_HASH hint (guide §3.1), measured r6: AQE's broadcast
    # choice for this join builds a ~1M-entry hash relation on the
    # driver single-threaded (3.15s phase-1 at sf0.1); the shuffled
    # hash join builds per-partition maps in parallel (1.09s).  The
    # build side is provably the smaller one per partition: freq2 has
    # at most one 16-byte (h, df) row per TWO probe-side gram rows
    # (df >= 2) and no doc-id/string payload, so the per-partition map
    # stays bounded by half the partition's probe rows at any scale.
    with_df = ex.join(freq2.hint("shuffle_hash"), "h")
    # ceil(n_g * t) with integers; prefix keeps ranks 1..(n_g - ceil + 1)
    ceil_t = F.floor((F.col("n_g") * t_num + t_den - 1) / t_den)
    wid = W.partitionBy("id")
    prefix = (
        with_df.withColumn(
            "_rk2", F.row_number().over(wid.orderBy("df", "h"))
        )
        .withColumn("_n2", F.count("*").over(wid))
        .filter(F.col("_rk2") <= F.col("_n2") - ceil_t + 1)
        .select(
            "id",
            "n_g",
            (F.col("n_g") - F.col("_n2") + F.col("_rk2")).alias("_rk"),
            "h",
        )
    )
    # materialize the (small) prefix index once: the candidate self-join
    # references it on BOTH sides, and without a materialization barrier
    # the whole freq+window subtree executes twice (observed in the r6
    # before-plan: two Window/Sort passes over the full exploded gram
    # set).  localCheckpoint (not persist) on purpose: it cuts lineage
    # for the self-join within THIS invocation but cannot be
    # plan-matched by the CacheManager across invocations, so repeated
    # timings keep re-executing the real DAG.
    prefix = prefix.localCheckpoint(eager=True)
    nx, ny = F.col("x.n_g"), F.col("y.n_g")
    i, j = F.col("x._rk"), F.col("y._rk")
    matched = (
        prefix.alias("x")
        .join(prefix.alias("y"), "h")
        .filter(F.col("x.id") < F.col("y.id"))
        # LENGTH filter (SSJoin): J >= t forces min(n) * t_den >=
        # max(n) * t_num — prunes out-of-ratio pairs before they ever
        # reach the pair-dedup shuffle or the verify fetch
        .filter(F.least(nx, ny) * t_den >= F.greatest(nx, ny) * t_num)
        .select(
            F.col("x.id").alias("a_id"),
            F.col("y.id").alias("b_id"),
            # POSITIONAL filter bound (ppjoin): both gh arrays are
            # sorted in the SAME global (df, h) order (_rk is the rank
            # under that order; distinct grams have distinct xxhash64
            # by the plan's standing no-collision assumption), so for a
            # matched gram at ranks (i, j) the common elements before
            # it number <= min(i-1, j-1) and after it <= min(nx-i,
            # ny-j): overlap <= min(i-1,j-1) + 1 + min(nx-i, ny-j).
            # A qualifying pair satisfies this bound >= alpha for EVERY
            # matched gram, so filtering on the MIN bound is lossless.
            (F.least(i - 1, j - 1) + 1 + F.least(nx - i, ny - j)).alias("_ub"),
            (nx + ny).alias("_sz"),
        )
    )
    # Candidate handling is adaptive (r6).  The pair-dedup aggregate
    # pays one pair-key shuffle of EVERY matched row to (a) verify
    # each candidate pair once and (b) apply the positional filter on
    # the MIN bound; its value is the dedup ratio.  Measured regimes:
    # t = 4/5 transcripts at sf0.1: 160k matched rows -> 5.6k pairs
    # (28x dedup — true dups share many prefix grams; aggregate wins).
    # t = 1/2 documents at the 50k-doc sf1.0 corpus: 42.0M rows ->
    # 39.8M pairs (1.06x — low-t prefixes cover half of every doc,
    # candidates share a single gram, and the aggregate shuffles the
    # entire near-quadratic candidate set to save ~6% duplicate
    # verifications; the ROW-WISE + sketch path is 5x faster).
    #
    # High thresholds (t >= 2/3) always take the aggregate (short
    # prefixes, dense multiplicity).  Below that the choice is made
    # from the DATA, not a constant: one tiny aggregate over the
    # already-checkpointed prefix index measures the candidate upper
    # bound sum_h pdf(h)^2 (the never-silent candidate-volume stat) —
    # small mass -> aggregate, large -> row-wise, where each matched
    # row is filtered on its own positional bound (lossless — _ub
    # upper-bounds the pair's true overlap, so no row of a TRUE pair
    # is ever dropped), verified through the sketched two-stage chain
    # (exact), and the tiny verified output deduped instead of the
    # huge candidate set.
    rowwise = False
    if 3 * t_num < 2 * t_den:  # t < 2/3: measure the candidate mass
        mass_row = (
            prefix.groupBy("h").agg(F.count("*").alias("pdf"))
            .agg(F.sum(F.col("pdf") * F.col("pdf")).alias("m"))
            .collect()
        )
        rowwise = int(mass_row[0]["m"] or 0) > SKETCH_CANDIDATE_MASS
    if rowwise:
        rows = matched.filter(
            F.col("_ub") * (t_den + t_num) >= F.col("_sz") * t_num
        ).select("a_id", "b_id")
        return verify_gram_pairs(
            rows, hashed, t_num, t_den,
            sketch_meta=with_gram_sketch(hashed),
        ).dropDuplicates(["a_id", "b_id"])
    cand = (
        matched.groupBy("a_id", "b_id")
        .agg(F.min("_ub").alias("_ub"), F.min("_sz").alias("_sz"))
        # J >= t  <=>  overlap * (t_den + t_num) >= t_num * (nx + ny)
        .filter(F.col("_ub") * (t_den + t_num) >= F.col("_sz") * t_num)
        .select("a_id", "b_id")
    )
    # high-t candidates are few and mostly true after the min-bound
    # aggregate (28x dedup measured) — the sketch's metadata stage
    # would only add a second broadcast build; verify plain
    return verify_gram_pairs(cand, hashed, t_num, t_den)


def verify_gram_pairs(
    cand: DataFrame,
    hashed: DataFrame,
    t_num: int,
    t_den: int,
    sketch_meta: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs against the full gram
    sets — the endpoint-join chain shape with one shared exchange (r6).

    The r3 explode-join-regroup shape shipped R arrays through the id
    exchange plus 2P arrays through a pair-key groupBy shuffle (R = side
    rows, P = candidate pairs); its cost analysis assumed the legacy chain
    re-shuffles the side table twice.  It does not: both endpoint joins
    consume ``hashed`` through CANONICALLY IDENTICAL projections, so the
    planner reuses one exchange (ReusedExchange — asserted in
    test_plan_properties.py) and the chain ships R + P arrays — strictly
    fewer than R + 2P in every regime, and when the side table fits the
    broadcast threshold (AQE decides from real sizes) the pair stream
    crosses NO array-carrying shuffle at all, where the regroup's pair-key
    groupBy shuffled 2P arrays unconditionally.  A skewed endpoint (one
    doc in many pairs) now lands in a JOIN, where AQE skew-split applies —
    the regroup's groupBy had no such runtime protection.

    Endpoint-guard semantics (ADVICE r3/r4) are preserved by construction:
    a candidate whose endpoint is missing from ``hashed`` drops (inner
    joins), a degenerate a_id == b_id candidate drops (explicit filter),
    and two empty gram sets never pass 0 >= 0 (union_n > 0 filter).  A
    duplicate id in ``hashed`` (a caller bug) still verifies the pair —
    as duplicated output rows rather than the regroup's single row.
    """
    with_sketch = sketch_meta is not None
    c = cand.filter(F.col("a_id") != F.col("b_id"))

    if with_sketch:
        # Two-stage sketched verify (r6).  Stage 1 joins only METADATA
        # (set size + count-bucket sketch, ~90 bytes/row — never the gram
        # arrays, whose per-row materialization dominated the unsketched
        # chain at 40M candidates) and rejects pairs that provably cannot
        # reach the threshold:
        #   count-bucket bound (lossless): with per-doc bucket counts c[b]
        #   over bucket = gram_hash & (SK_B-1), the true overlap satisfies
        #   inter <= sum_b min(ca[b], cb[b]) — common grams in a bucket
        #   cannot outnumber either side's count there (exact set
        #   arithmetic, no probabilistic argument).  Measured at the
        #   50k-doc sf1.0 documents corpus: 99.8% of the 40M low-threshold
        #   candidates rejected, zero true pairs lost (bound >= inter
        #   always).  The 4-bit lanes saturate at 15; a doc with a hotter
        #   bucket sets sk_ok = False and its pairs skip the bound filter
        #   (stay exact).  The 128 least-terms compile to straight-line
        #   whole-stage-codegen integer ops, ~100x cheaper than
        #   array_intersect.
        # Stage 2 fetches the gram arrays for the surviving pairs only and
        # computes the exact intersection.  Both stages use the
        # canonically-identical-sides chain (exchange/broadcast reuse).
        def _meta(tag: str) -> DataFrame:
            return sketch_meta.select(
                F.col("id").alias(f"{tag}_id"),
                F.col("n").alias(f"{tag}_n"),
                F.col("sk").alias(f"{tag}_sk"),
                F.col("sk_ok").alias(f"{tag}_ok"),
            )

        bound = None
        for w in range(SK_LONGS):
            aw, bw = F.col("a_sk")[w], F.col("b_sk")[w]
            for lane in range(16):
                term = F.least(
                    F.shiftrightunsigned(aw, 4 * lane).bitwiseAND(F.lit(15)),
                    F.shiftrightunsigned(bw, 4 * lane).bitwiseAND(F.lit(15)),
                )
                bound = term if bound is None else bound + term
        j = (
            c.join(_meta("a"), "a_id")
            .join(_meta("b"), "b_id")
            # size-ratio prefilter
            .filter(
                F.least("a_n", "b_n") * t_den >= F.greatest("a_n", "b_n") * t_num
            )
            .filter(
                ~(F.col("a_ok") & F.col("b_ok"))
                | (bound * (t_den + t_num) >= (F.col("a_n") + F.col("b_n")) * t_num)
            )
            .select("a_id", "b_id", "a_n", "b_n")
        )
    else:
        def _side(tag: str) -> DataFrame:
            return hashed.select(
                F.col("id").alias(f"{tag}_id"), F.col("gh").alias(f"{tag}_gh")
            )

        j = (
            c.join(_side("a"), "a_id")
            .join(_side("b"), "b_id")
            .withColumn("a_n", F.size("a_gh"))
            .withColumn("b_n", F.size("b_gh"))
            # size-ratio prefilter before the array intersection
            .filter(
                F.least("a_n", "b_n") * t_den >= F.greatest("a_n", "b_n") * t_num
            )
        )

    if with_sketch:
        ga = hashed.select(F.col("id").alias("a_id"), F.col("gh").alias("a_gh"))
        gb = hashed.select(F.col("id").alias("b_id"), F.col("gh").alias("b_gh"))
        j = j.join(ga, "a_id").join(gb, "b_id")
    j = (
        j.withColumn("inter", F.size(F.array_intersect("a_gh", "b_gh")).cast("long"))
        .withColumn("union_n", (F.col("a_n") + F.col("b_n")).cast("long") - F.col("inter"))
        # union_n > 0: two empty gram arrays must not pass 0 >= 0 as a dup
        .filter(
            (F.col("union_n") > 0)
            & (F.col("inter") * t_den >= F.col("union_n") * t_num)
        )
    )
    return j.select(
        "a_id",
        "b_id",
        "inter",
        "union_n",
        F.round(F.col("inter").cast("double") / F.col("union_n"), 6).alias("jaccard"),
    )


def prefix_index_stats(
    df: DataFrame, id_col: str, text_col: str, k: int, t_num: int, t_den: int,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Prefix-index metrics (never-silent contract for the candidate plan):
    one row with n_gram_rows (full exploded volume), n_prefix_rows (what
    actually enters the candidate join), prefix_fraction, and max_prefix_df
    — a high max_prefix_df means boilerplate grams are reaching prefixes
    (docs whose rarest grams are still ubiquitous) and candidate volume may
    grow toward the df² worst case.

    ``hashed``: pass the (persisted) with_gram_hashes frame a companion
    gram_jaccard_pairs call already built — the gram stage is the job's
    most expensive pandas-UDF pass and must not run twice (r4 review)."""
    if hashed is None:
        hashed = with_gram_hashes(df, id_col, text_col, k)
    ex = hashed.select("id", F.size("gh").alias("n_g"), F.explode("gh").alias("h"))
    freq = ex.groupBy("h").agg(F.count("*").alias("df"))
    with_df = ex.join(freq, "h")
    ceil_t = F.floor((F.col("n_g") * t_num + t_den - 1) / t_den)
    rk = F.row_number().over(W.partitionBy("id").orderBy("df", "h"))
    flagged = with_df.withColumn(
        "_in_prefix", rk <= F.col("n_g") - ceil_t + 1
    )
    return flagged.agg(
        F.count("*").alias("n_gram_rows"),
        F.sum(F.col("_in_prefix").cast("long")).alias("n_prefix_rows"),
        # try_divide: an empty corpus yields count=0 in the one agg row,
        # and ANSI mode (Spark 4 default) raises DIVIDE_BY_ZERO even with
        # a NULL numerator — stats on an empty index are NULL, not a crash
        F.round(
            F.try_divide(F.sum(F.col("_in_prefix").cast("long")), F.count("*")),
            4,
        ).alias("prefix_fraction"),
        F.max(F.when(F.col("_in_prefix"), F.col("df"))).alias("max_prefix_df"),
    )
