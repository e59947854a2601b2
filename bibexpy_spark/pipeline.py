"""End-to-end near-duplicate detection + clustering pipeline.

Stage DAG (SURVEY.md §7.1; restates the reference's six-phase Smart Merge,
smart_merger.py:576-827, as Spark stages):

    assemble   turn rows -> conversation rows (window-ordered concat)
    sign       normalize + content sha + shingles + MinHash bands + SimHash
    exact      strong-hash dedup groups (Stage-1 analogue); reps continue
    candidates LSH band join with hot-band star fallback (blocking analogue)
    verify     exact Jaccard on shingle sets (compute_match analogue)
    cluster    connected components over exact ∪ verified edges
               (replaces greedy 1:1 assignment, smart_merger.py:654-711)
    contain    substring containment pass (merge_references analogue)
    fuzzy      SimHash Hamming pairs (fuzzy-field Stage-4 analogue)

With a RunContext each stage checkpoints to the warehouse and is skipped on
relaunch when its manifest matches (config hash + input token).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bibexpy_spark.config import CANONICAL, DedupConfig
from bibexpy_spark.functions import udfs
from bibexpy_spark.lineage import RunContext
from bibexpy_spark.operators import assembly, components, containment, exact, lsh, simhash
from bibexpy_spark.operators import verify as verify_op


def surrogate_id(col):
    """128-bit surrogate key as an orderable struct<hi:bigint, lo:bigint>:
    two independent xxhash64 values (second salted).  Collision mass at n
    rows is ~n²/2^129 — the in-line TODO from round 1 (64-bit xxhash64 would
    silently merge unrelated conversations at 10^12 rows) made real."""
    return F.struct(
        F.xxhash64(col).alias("hi"),
        F.xxhash64(F.lit("bibexpy/nid/2"), col).alias("lo"),
    )


def check_pass_options(
    extra_cluster_edges: tuple[str, ...],
    with_containment: bool,
    with_simhash_pass: bool,
    containment_mode: str,
) -> None:
    """Raise ValueError when the containment mode is unknown (with the pass
    on), or an extra cluster-edge source is unknown or its pass is off
    (shared by the batch, delta, state-fold and submit-job entry points)."""
    if with_containment and containment_mode not in containment.MODE_BACKEND:
        raise ValueError(f"unknown containment_mode: {containment_mode!r}")
    bad_sources = set(extra_cluster_edges) - {"containment", "simhash"}
    if bad_sources:
        raise ValueError(f"unknown extra_cluster_edges: {sorted(bad_sources)}")
    if "containment" in extra_cluster_edges and not with_containment:
        raise ValueError("extra_cluster_edges='containment' needs with_containment")
    if "simhash" in extra_cluster_edges and not with_simhash_pass:
        raise ValueError("extra_cluster_edges='simhash' needs with_simhash_pass")


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

    ``containment_mode``: ``"prefix"`` (default — the lossless equi-join
    pass, output key ``containment_prefix``), ``"general"`` or
    ``"general_sa"`` (ALSO emit ``containment_pairs``: the complete
    prefix ∪ interior pass with match offsets, verified by JVM instr or the
    per-outer suffix array respectively — see operators/containment.py).

    ``extra_cluster_edges``: by default clusters form over exact ∪
    Jaccard-verified edges only and the containment/SimHash passes are
    emitted as SIGNALS (separate outputs).  Opt in with ``"containment"``
    and/or ``"simhash"`` to additionally union those pairs into the edge
    set before connected components — the reference's merge_references
    semantics (MergeDB.py:210-278), where a contained record is FOLDED into
    its container's group rather than reported alongside it.  Containment
    edges use whichever pass ``containment_mode`` selects; each source
    requires its pass to be enabled.
    """
    check_pass_options(
        extra_cluster_edges, with_containment, with_simhash_pass, containment_mode
    )

    def materialize(stage: str, build) -> DataFrame:
        if run is not None:
            return run.materialize(stage, build)
        return build()

    if run is not None and not run.stage_fresh("assemble"):
        # contract guard (input_hint: turn_idx is the stable order key):
        # duplicate (conv_id, turn_idx) keys are surfaced, never silent.
        # Gated on stage freshness (r4 review): a resume whose assemble
        # manifest matches must not pay a full-corpus groupBy scan for a
        # metric the original run already logged.
        run.log_metric(
            "assemble", duplicate_turn_keys=assembly.count_duplicate_turn_keys(turns)
        )

    # lean assembly: the hot path aggregates only the fields it consumes
    # (full turn structs are available via assembly.assemble_conversations
    # for the invariant/explode-back surface)
    conv = materialize(
        "assemble",
        lambda: assembly.assemble_docs(turns, include_roles_tools=with_simhash_pass),
    )

    def build_signed() -> DataFrame:
        s = udfs.with_signature_columns(conv, cfg, text_col="doc")
        if with_simhash_pass:
            s = simhash.with_simhash(s, cfg)
        return s.drop("doc")

    signed = materialize("sign", build_signed)
    # fixed-width surrogate key for every shuffle-heavy internal stage:
    # band explode, pair joins and CC move a 16-byte struct<hi,lo> instead
    # of conv_id strings.  128 bits = two independent xxhash64 values (the
    # second salted): a collision needs BOTH to collide simultaneously,
    # p ~ n²/2^129 — negligible at 10^12 rows, where a single 64-bit hash
    # would already expect ~27k collisions (n²/2^65).  Structs are orderable
    # and groupable, so every downstream min/least/join/groupBy works
    # unchanged; the boundary contract stays conv_id strings.
    signed = signed.withColumn("nid", surrogate_id(F.col("conv_id")))
    if run is None:
        signed = signed.persist()
    idmap = signed.select("conv_id", "nid")

    grouped = exact.exact_groups(signed)
    if run is None:
        grouped = grouped.persist()
    exact_edge_df = materialize("exact_edges", lambda: exact.exact_edges(grouped))
    reps = exact.representatives(grouped)

    # the bucket counters ride the candidates write as an Observation; a
    # resumed (skipped) stage runs no action, so it logs nothing new
    bucket_counts = Observation("bucket_counts") if run is not None else None
    built = []

    def build_candidates() -> DataFrame:
        built.append(True)
        pairs, _ = lsh.candidate_pairs(
            reps, cfg, id_col="nid", bucket_counts=bucket_counts
        )
        return pairs

    cand = materialize("candidates", build_candidates)
    if bucket_counts is not None and built:
        run.log_metric("candidates", **bucket_counts.get)

    verified_nid = materialize(
        "verify", lambda: verify_op.verify_pairs(cand, reps, cfg, id_col="nid")
    )
    dup_edges_nid = verified_nid.filter(F.col("is_dup")).select("a_id", "b_id")

    exact_edges_nid = exact_edge_df.select(
        surrogate_id(F.col("a_id")).alias("a_id"),
        surrogate_id(F.col("b_id")).alias("b_id"),
    )
    all_edges = exact_edges_nid.unionByName(dup_edges_nid)

    # optional passes (signals by default; edge sources when opted in) —
    # built before clustering so their pairs can join the edge set
    containment_prefix = containment_general = simhash_pair_df = None
    if with_containment:
        containment_prefix = materialize(
            "contain_prefix", lambda: containment.prefix_containment_pairs(signed, cfg)
        )
        backend = containment.MODE_BACKEND[containment_mode]
        if backend is not None:
            containment_general = materialize(
                "contain_general",
                # the prefix leg rides the stage just materialized above
                # instead of re-running the prefix-key self-join
                lambda: containment.general_containment_pairs(
                    signed, cfg, backend=backend,
                    prefix_pairs=containment_prefix,
                ),
            )
    if with_simhash_pass:
        simhash_pair_df = materialize(
            "fuzzy", lambda: simhash.simhash_pairs(signed, cfg)
        )

    def _str_pairs_to_nid_edges(df: DataFrame, a: str, b: str) -> DataFrame:
        return df.select(
            surrogate_id(F.col(a)).alias("a_id"), surrogate_id(F.col(b)).alias("b_id")
        )

    if "containment" in extra_cluster_edges:
        src = (
            containment_general
            if containment_general is not None
            else containment_prefix
        )
        all_edges = all_edges.unionByName(
            _str_pairs_to_nid_edges(src, "inner_id", "outer_id")
        )
    if "simhash" in extra_cluster_edges:
        all_edges = all_edges.unionByName(
            _str_pairs_to_nid_edges(simhash_pair_df, "a_id", "b_id")
        )

    def build_clusters() -> DataFrame:
        cl_nid = components.connected_components(
            all_edges, signed.select("nid"), cfg, id_col="nid"
        )
        # relabel surrogate components to the public contract:
        # cluster_id = min conv_id of the component
        lab = cl_nid.join(idmap, "nid")
        cluster_min = lab.groupBy("cluster_id").agg(
            F.min("conv_id").alias("cluster_conv")
        )
        return (
            lab.join(cluster_min, "cluster_id")
            .select("conv_id", F.col("cluster_conv").alias("cluster_id"))
        )

    clusters = materialize("cluster", build_clusters)

    def _to_str_pairs(df: DataFrame) -> DataFrame:
        a = idmap.select(F.col("nid").alias("a_id"), F.col("conv_id").alias("a_conv"))
        b = idmap.select(F.col("nid").alias("b_id"), F.col("conv_id").alias("b_conv"))
        out = df.join(a, "a_id").join(b, "b_id").drop("a_id", "b_id")
        return out.select(
            F.least("a_conv", "b_conv").alias("a_id"),
            F.greatest("a_conv", "b_conv").alias("b_id"),
            *[c for c in df.columns if c not in ("a_id", "b_id")],
        )

    verified = _to_str_pairs(verified_nid)
    dup_edges = _to_str_pairs(dup_edges_nid)

    out: dict[str, Any] = {
        "conversations": conv,
        "signed": signed,
        "exact_edges": exact_edge_df,
        "candidate_pairs": cand,
        "verified_pairs": verified,
        "dup_edges": dup_edges,
        "clusters": clusters,
    }

    if containment_prefix is not None:
        out["containment_prefix"] = containment_prefix
    if containment_general is not None:
        out["containment_pairs"] = containment_general
    if simhash_pair_df is not None:
        out["simhash_pairs"] = simhash_pair_df
    return out


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
