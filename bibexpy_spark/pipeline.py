"""Batch near-duplicate detection + clustering: the dedup pass over empty
state.

A batch run is :func:`incremental.run_incremental_dedup` with no prior — one
orchestration for both modes, whose stage list (``sign``, ``exact_edges``,
``candidates``, ``verify``, ``contain_prefix``, ``contain_general``,
``fuzzy``, ``cluster``, with the prior-only stages marked) and reference
analogues are in incremental.py's module docstring.  With a RunContext each
stage checkpoints to the warehouse and is skipped on relaunch when its
manifest matches (config hash + input token).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bibexpy_spark import incremental
from bibexpy_spark.config import CANONICAL, DedupConfig
from bibexpy_spark.lineage import RunContext


def run_dedup(
    spark: SparkSession,
    turns: DataFrame,
    cfg: DedupConfig = CANONICAL,
    run: RunContext | None = None,
    with_containment: bool = True,
    with_simhash_pass: bool = True,
    containment_mode: str = "prefix",
    extra_cluster_edges: tuple[str, ...] = (),
) -> dict[str, Any]:
    """Execute the pipeline; returns a dict of result DataFrames.

    The options mean what they mean for ``run_incremental_dedup``, whose
    result this is with the ``_new`` suffixes dropped: ``signed``,
    ``exact_edges``, ``candidate_pairs``, ``dup_edges``, ``clusters``,
    ``containment_prefix`` / ``containment_pairs`` / ``simhash_pairs`` for
    the enabled passes, ``stats``, and ``cleanup`` — call it after the
    outputs are written to release a run without a RunContext.
    """
    res = incremental.run_incremental_dedup(
        spark, turns, None, None, cfg=cfg,
        with_containment=with_containment,
        with_simhash_pass=with_simhash_pass,
        containment_mode=containment_mode,
        extra_cluster_edges=extra_cluster_edges,
        run=run,
    )
    return {key.removesuffix("_new"): df for key, df in res.items()}


def dup_pairs_from_clusters(clusters: DataFrame) -> DataFrame:
    """Expand cluster assignments to all intra-cluster pairs (a_id < b_id).

    Used by the recall metric: golden pairs are defined over the transitive
    closure, so recall compares against every pair the clustering implies.
    """
    a = clusters.select(F.col("conv_id").alias("a_id"), "cluster_id")
    b = clusters.select(F.col("conv_id").alias("b_id"), "cluster_id")
    return (
        a.join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )
