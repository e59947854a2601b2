"""Skew-guarded bucket pairing, and the LSH candidate join built on it.

The reference's blocking join (smart_merger.py:185-198, 624-655) has a known
skew hazard: rows with empty keys pile into one block.  At LSH scale the
analogue is a hot band bucket (boilerplate text shared by millions of rows).
:func:`bucket_pairs` is the one owner of the policy (SURVEY.md §4, §7.4 #2)
for every bucketed join — the batch and delta LSH band joins and the SimHash
chunk joins (operators/simhash.py, incremental.py):

  * buckets of size 1 generate no pairs and are dropped;
  * buckets with <= ``cap`` members generate ALL intra-bucket pairs via an
    equi-join on the bucket key — AQE skew-join splits any moderately large
    bucket's join tasks;
  * buckets larger than the cap switch to a STAR pattern: every member pairs
    with the bucket minimum only (n-1 pairs instead of n(n-1)/2).  For
    connected-components clustering this preserves connectivity through the
    representative while bounding pair volume; the switch is reported in the
    per-bucket size frame (``star_mode``) — truncation is never silent.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from bibexpy_spark.config import DedupConfig


def bucket_counters(counter: str) -> tuple[Column, Column]:
    """Aggregates over a bucket ``sizes`` frame: ``hot_<counter>`` (star-mode
    buckets) and ``active_<counter>`` (buckets of size >= 2)."""
    return (
        F.coalesce(F.sum(F.col("star_mode").cast("long")), F.lit(0))
        .alias(f"hot_{counter}"),
        F.count(F.lit(1)).alias(f"active_{counter}"),
    )


def bucket_pairs(
    keyed: DataFrame,
    keys: Sequence[str],
    cap: int,
    new_col: str | None = None,
    carry: Sequence[str] = (),
    bucket_counts: Observation | None = None,
    counter: str = "buckets",
) -> tuple[DataFrame, DataFrame]:
    """Pair the members of each bucket under the skew policy above.

    ``keyed`` holds one row per (conv_id, bucket key), plus the ``carry`` columns
    to bring along for each endpoint.  Returns ``(pairs, sizes)``:

      * ``pairs``: ``a_id < b_id`` with ``a_<c>``/``b_<c>`` per carried
        column, one row per (bucket, pair) — a pair sharing several buckets
        repeats, so callers dedupe after their own filters;
      * ``sizes``: one row per bucket of size >= 2 — the key columns,
        ``bucket_n`` and ``star_mode`` (``bucket_n > cap``).

    ``new_col`` (a boolean column) makes the join delta-driven: only
    buckets holding a new row take part, and only pairs with >= 1 new
    endpoint come out.  A bucket's key is carried by every member, so
    semi-joining the rows to the new rows' keys BEFORE the bucket aggregate
    keeps every member of a touched bucket (its size and rep equal the
    unpruned aggregate's) while the old rows are only scanned, never
    aggregated.  Without ``new_col`` every row counts as new: the batch
    join is the same plan with the delta filters constant-folded away.

    The star rep's carried values and new-flag ride the bucket aggregate
    (``min_by`` on the id), so the star is a filter over the member rows —
    no window, no second join.  Nothing is persisted.

    ``bucket_counts`` observes :func:`bucket_counters` on the bucket
    aggregate, so the counters arrive with the action that computes
    ``pairs``; the returned ``sizes`` is not observed.
    """
    keys, carry = list(keys), list(carry)
    rows = keyed.select(
        *keys,
        F.col("conv_id").alias("_id"),
        *carry,
        (F.col(new_col) if new_col else F.lit(True)).alias("_new"),
    )
    if new_col:
        rows = rows.join(
            rows.filter(F.col("_new")).select(*keys).distinct(), keys, "left_semi"
        )
    sizes = (
        rows.groupBy(*keys)
        .agg(
            F.count("*").alias("bucket_n"),
            F.min_by(F.struct("_id", *carry, "_new"), F.col("_id")).alias("_rep"),
        )
        .filter(F.col("bucket_n") >= 2)
        .withColumn("star_mode", F.col("bucket_n") > cap)
    )
    observed = sizes
    if bucket_counts is not None:
        observed = sizes.observe(bucket_counts, *bucket_counters(counter))
    members = rows.join(observed, keys)

    # small buckets: each new member x against every co-member y; when both
    # are new only the x < y orientation is kept, so a pair appears once
    small = members.filter(~F.col("star_mode"))
    x = small.filter(F.col("_new")).select(
        *keys, F.col("_id").alias("x_id"), *[F.col(c).alias(f"x_{c}") for c in carry]
    )
    y = small.select(
        *keys,
        F.col("_id").alias("y_id"),
        F.col("_new").alias("y_new"),
        *[F.col(c).alias(f"y_{c}") for c in carry],
    )
    x_lo = F.col("x_id") < F.col("y_id")

    def _end(lo_tag: str, hi_tag: str, c: str):
        return F.when(x_lo, F.col(f"{lo_tag}_{c}")).otherwise(F.col(f"{hi_tag}_{c}"))

    small_pairs = (
        x.join(y, keys)
        .filter((F.col("x_id") != F.col("y_id")) & (~F.col("y_new") | x_lo))
        .select(
            _end("x", "y", "id").alias("a_id"),
            _end("y", "x", "id").alias("b_id"),
            *[_end("x", "y", c).alias(f"a_{c}") for c in carry],
            *[_end("y", "x", c).alias(f"b_{c}") for c in carry],
        )
    )
    # hot buckets: each member against the bucket's min-id rep, so the rep
    # is always the a side
    star_pairs = members.filter(
        F.col("star_mode")
        & (F.col("_id") != F.col("_rep._id"))
        & (F.col("_new") | F.col("_rep._new"))
    ).select(
        F.col("_rep._id").alias("a_id"),
        F.col("_id").alias("b_id"),
        *[F.col(f"_rep.{c}").alias(f"a_{c}") for c in carry],
        *[F.col(c).alias(f"b_{c}") for c in carry],
    )
    return (
        small_pairs.unionByName(star_pairs),
        sizes.select(*keys, "bucket_n", "star_mode"),
    )


def candidate_pairs(
    signed: DataFrame,
    cfg: DedupConfig,
    new_col: str | None = None,
    bucket_counts: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """LSH band join -> distinct candidate pairs (a_id < b_id).

    Returns (pairs, band_stats); band_stats carries per-bucket member counts
    and the hot/star flag.  ``new_col`` and ``bucket_counts`` are passed to
    bucket_pairs.
    """
    pairs, band_stats = bucket_pairs(
        signed.select(
            "conv_id", *([new_col] if new_col else []),
            F.posexplode("band_hashes").alias("band_idx", "band_hash"),
        ),
        ("band_idx", "band_hash"), cfg.hot_band_cap, new_col=new_col,
        bucket_counts=bucket_counts,
    )
    return pairs.dropDuplicates(["a_id", "b_id"]), band_stats
