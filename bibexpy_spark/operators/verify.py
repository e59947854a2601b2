"""Candidate-pair verification: exact Jaccard on shingle sets, JVM-side.

The reference verifies candidates with staged predicates over normalized
fields (compute_match, smart_merger.py:243-350); the north rule replaces
its string similarities with exact Jaccard on k-shingle sets at a fixed
threshold.

The Jaccard itself is computed with built-in array functions
(``array_intersect`` / set sizes), staying inside whole-stage codegen —
no Python in the verification hot path at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bibexpy_spark.config import DedupConfig


def verify_pairs(
    pairs: DataFrame,
    signed: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """pairs(a_id, b_id) x signed(conv_id, shingles) -> verified pairs.

    Output: a_id, b_id, inter, union_n, jaccard (double), is_dup (bool).
    Threshold comparison is integer cross-multiplication, not float, so the
    result is bit-exact reproducible: inter/union >= t  <=>
    inter * denom >= num * union for t = num/denom.
    """
    # endpoint-join chain with one shared exchange (a plan shape that
    # tests/test_plan_properties.py asserts): both endpoint fetches consume
    # ``signed`` through canonically identical projections, so the planner
    # reuses one exchange (or broadcast) of the array-carrying side table —
    # R + P array shipments for R side rows / P pairs, vs the r3 regroup's
    # R + 2P through its pair-key groupBy shuffle; a hot endpoint lands in
    # a join, where AQE skew-split applies.  Guard semantics preserved: a
    # pair whose endpoint is missing from ``signed`` drops (inner joins),
    # a degenerate a_id == b_id candidate drops (explicit filter — the
    # regroup's _nb guard), and a duplicate id in ``signed`` (a caller
    # bug) still verifies the pair, now as duplicated output rows.
    def _side(tag: str) -> DataFrame:
        return signed.select(
            F.col("conv_id").alias(f"{tag}_id"),
            F.col("shingles").alias(f"{tag}_sh"),
            F.size("shingles").alias(f"{tag}_n"),
        )

    j = (
        pairs.select("a_id", "b_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .join(_side("a"), "a_id")
        .join(_side("b"), "b_id")
    )

    # size-ratio prefilter: jaccard <= min/max; skip pairs that cannot reach
    # the threshold before touching array_intersect (cheap int compare).
    t_num, t_den = _threshold_fraction(cfg.jaccard_threshold)
    j = j.filter(
        F.least("a_n", "b_n") * t_den >= F.greatest("a_n", "b_n") * t_num
    )

    j = j.withColumn("inter", F.size(F.array_intersect("a_sh", "b_sh")))
    j = j.withColumn("union_n", F.col("a_n") + F.col("b_n") - F.col("inter"))
    # try_divide: under ANSI mode (Spark 4 default) 0/0 is a hard job
    # failure; an empty-vs-empty pair must instead surface as jaccard NULL
    # with is_dup false (guard below)
    j = j.withColumn("jaccard", F.try_divide(F.col("inter"), F.col("union_n")))
    # union_n > 0: two EMPTY shingle sets would otherwise pass 0 >= 0 with
    # a NULL jaccard — an undefined similarity must never read as a dup
    j = j.withColumn(
        "is_dup",
        (F.col("union_n") > 0)
        & (F.col("inter") * t_den >= F.col("union_n") * t_num),
    )
    return j.select("a_id", "b_id", "inter", "union_n", "jaccard", "is_dup")


def _threshold_fraction(t: float, max_den: int = 10_000) -> tuple[int, int]:
    """Exact small fraction for a threshold like 0.8 -> (4, 5)."""
    from fractions import Fraction

    fr = Fraction(t).limit_denominator(max_den)
    return fr.numerator, fr.denominator
