"""Exact-duplicate short-circuit (strong content hash).

The reference resolves most pairs with O(1) identifier equality before any
fuzzy similarity (Stage 1 DOI exact, smart_merger.py:253-265; v1 dup-group
join groupby('DI'), MergeDB.py:782-829).  The transcript analogue groups on
sha256 of the normalized document: members of one hash group are exact
duplicates; the group minimum becomes the representative that continues into
the MinHash/LSH path, shrinking the fuzzy workload by the duplication factor
— at 10^12 turns this is the single biggest pruning step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_edges(new: DataFrame, old: DataFrame | None = None) -> DataFrame:
    """Star edges (a_id = representative, b_id = member, cross) for every
    ``new`` row that is not its content hash's representative.

    The representative is the min conv_id among the ``old`` rows with the
    hash when there are any (``cross`` true: the row joins a prior exact
    group and skips the fuzzy path), else the min among the ``new`` rows.

    Shuffle-narrow plan: a window over the full row would shuffle the wide
    signature payload (shingle + band arrays); instead ONE aggregate over
    the (content_sha, conv_id) projection of the new rows, plus the old
    rows semi-joined to the broadcast new hashes (``old`` is only scanned),
    takes per hash the min new id, the new-row count and the min old id.
    The tiny map of linked hashes is then joined back to the new rows (dup
    maps are small relative to the corpus, so AQE broadcasts them).
    """
    rows = new.select("content_sha", "conv_id", F.lit(True).alias("_new"))
    if old is not None:
        rows = rows.unionByName(
            old.select("content_sha", "conv_id", F.lit(False).alias("_new"))
            .join(F.broadcast(new.select("content_sha")), "content_sha", "left_semi")
        )
    new_id = F.when(F.col("_new"), F.col("conv_id"))
    groups = rows.groupBy("content_sha").agg(
        F.min(new_id).alias("_rep"),
        F.count(new_id).alias("_n"),
        F.min(F.when(~F.col("_new"), F.col("conv_id"))).alias("_old_rep"),
    )
    cross = F.col("_old_rep").isNotNull()
    linked = groups.filter((F.col("_n") > 1) | cross).select(
        "content_sha", F.coalesce("_old_rep", "_rep").alias("a_id"), cross.alias("cross")
    )
    return (
        new.select("content_sha", F.col("conv_id").alias("b_id"))
        .join(linked, "content_sha")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", "cross")
    )


def representatives(signed: DataFrame, edges: DataFrame) -> DataFrame:
    """The rows of ``signed`` that ``edges`` (its exact_edges) link to no
    representative: one per content hash, the LSH input at scale."""
    return signed.join(
        edges.select(F.col("b_id").alias("conv_id")), "conv_id", "left_anti"
    )
