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
    signature payload (shingle + band arrays); instead aggregate the
    (content_sha, conv_id) projection — map-side-combinable — and join the
    tiny map of linked hashes back (dup maps are small relative to the
    corpus, so AQE broadcasts them).  ``old`` is only scanned: its rows are
    semi-joined to the broadcast new hashes before they are aggregated.
    """
    groups = (
        new.select("content_sha", "conv_id")
        .groupBy("content_sha")
        .agg(F.min("conv_id").alias("_rep"), F.count("*").alias("_n"))
    )
    rep, cross = F.col("_rep"), F.lit(False)
    if old is not None:
        old_rep = (
            old.select("content_sha", "conv_id")
            .join(F.broadcast(new.select("content_sha")), "content_sha", "left_semi")
            .groupBy("content_sha")
            .agg(F.min("conv_id").alias("_old_rep"))
        )
        groups = groups.join(F.broadcast(old_rep), "content_sha", "left")
        rep, cross = F.coalesce("_old_rep", "_rep"), F.col("_old_rep").isNotNull()
    linked = groups.filter((F.col("_n") > 1) | cross).select(
        "content_sha", rep.alias("a_id"), cross.alias("cross")
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
