"""The dedup pass: one staged body for a batch run and a daily delta.

The operational mode at 10^12-turn scale is not one batch run but a daily
delta: sign and candidate-join ONLY the new conversations, reuse the prior
corpus's persisted signatures (the ``signed`` state table) and cluster
assignments, and emit the updated clustering plus a remap of any prior
clusters that merged.  :func:`run_incremental_dedup` is that pass, and a
batch run is the same pass over empty state: ``pipeline.run_dedup`` calls
it with no prior, and the body then skips the prior-only stages and runs
every operator's batch plan.  ``fold_state`` wraps the pass for a state
directory: it composes the prior tables ``read_state`` returned (none for a
bootstrap) with the pass and returns the next state, which ``write_state``
commits with one manifest (the submit job and the stream both use them).

Deltas may also GROW conversations already clustered (the common shape for
live transcript tables: a batch appends turns to an open ``conv_id`` —
reference analogue: record patch then re-merge, apps/api/routers/
records.py:53-121).  With ``prior_turns`` provided, a grown conversation is
retracted and re-signed: its full turn set is rebuilt latest-wins
((conv_id, turn_idx) keys from the delta override prior rows, so appends,
re-deliveries AND turn edits all fold in), its ENTIRE prior cluster is
dissolved (stale connectivity through the old signature must not survive),
and the grown conversation plus its former co-members re-enter every
operator, the passes included, as new-side rows — co-members with their
existing signatures, so re-signing stays O(|grown|) and the operators pay
O(|retracted clusters|).  Without ``prior_turns`` a grown delta is a
contract violation and raises (it would otherwise enter as a second row of
the same conv_id with a different signature — silent corruption).

Batch equivalence (the correctness contract, pytest-gated in
tests/test_incremental.py): for the same config,

    run_incremental_dedup(new, prior_signed, prior_clusters)["clusters"]
        == run_dedup(old_turns ∪ new_turns)["clusters"]

holds EXACTLY whenever no LSH band bucket exceeds ``hot_band_cap`` (below
the cap both paths enumerate identical candidate sets; cluster labels are
min conv_id per component, invariant to which exact-duplicate acts as the
LSH representative because same-sha rows carry identical signatures).  In
star-fallback buckets both paths apply the same connect-to-bucket-rep
policy, but to reps chosen from different row sets — the same documented
approximation the batch path already makes.  A chain of deltas starting
from empty state is therefore batch-equivalent by induction.

Staged layout.  Each stage is computed once and every later stage and
output reads the stored rows (``lineage.materialize_stage``: a
``RunContext`` checkpoint table when the caller passes ``run``, else an
in-memory ``localCheckpoint``); the stage's row count and counters ride
the same action as an ``Observation``, and ``stats`` is built from them.
The stage list, in order; ``*`` marks a stage that runs only against a
prior state (reference analogues from the six-phase Smart Merge,
smart_merger.py:576-827):

  * ``grown``        delta conv_ids already in the prior state;
  * ``retracted`` / ``carried``  (grown deltas only) the prior assignments
                     of the clusters a grown conversation dissolves, and
                     the signed rows of their other members, which join
                     the new side of every later stage;
    ``sign``         assemble the turns (window-ordered concat), normalize,
                     content sha, shingles, MinHash bands (+ SimHash) — the
                     only Python-UDF stage; counter ``duplicate_turn_keys``;
    ``exact_edges``  every new row that is not its content hash's
                     representative, linked to it: the prior rows' min
                     conv_id when the hash is in the prior state (counter
                     ``cross_exact``; such a row skips the fuzzy path), else
                     the new rows' min (Stage-1 exact analogue);
  * ``reps``         the new reps plus the prior reps (min conv_id per
                     content hash) of the prior rows sharing a band key with
                     one (the touched buckets' members);
    ``candidates``   ``lsh.bucket_pairs`` over the reps, new-flagged when
                     there is a prior (blocking analogue); counters
                     ``hot_buckets``, ``active_buckets``;
    ``verify``       the Jaccard-verified candidate edges (compute_match
                     analogue); not run when ``candidates`` observed 0 rows —
                     the dup edges are then the stored empty candidate
                     frame's (a_id, b_id);
    ``contain_prefix`` / ``contain_general`` / ``fuzzy``  the pass pairs
                     with >= 1 new or carried endpoint (merge_references
                     and fuzzy Stage-4 analogues); ``contain_general`` counts
                     ``hot_shingles`` (dropped by the df cap),
                     ``indexed_shingles``; ``fuzzy`` counts
                     ``hot_chunk_buckets``, ``active_chunk_buckets``;
  * ``edges``        every edge with its old endpoints contracted to their
                     prior cluster_id (already the min conv_id of its
                     members), so prior clusters enter connected components
                     as super-nodes;
    ``cluster``      the connected-component label of every new conv_id
                     (``prior`` false) and of each prior super-node an edge
                     touches (``prior`` true) — replaces greedy 1:1
                     assignment, smart_merger.py:654-711.

One key serves both modes: ``conv_id``, the key of every state table and
output.  With a prior the frames a stage stores are O(|delta| +
|touched|): the prior state is scanned, never shuffled — every join
against a prior table broadcasts its delta-sized side (the delta's
conv_ids, content hashes or band keys, the edge endpoints, the remap),
and the only aggregates over prior rows run after such a semi-join.  That
is exact because same-hash rows share every signature, so a semi-join on
a hash or band key keeps whole hash groups.  Joins between new frames
carry no hint, so a batch run never broadcasts a corpus-sized frame.
``clusters`` is the prior assignment left-joined to the small remap, plus
the ``cluster`` stage's new rows (a filter); ``cluster_remap`` is a filter
over the same stage.  Neither re-runs a stage.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bibexpy_spark.config import CANONICAL, DedupConfig
from bibexpy_spark.functions import udfs
from bibexpy_spark.lineage import (
    Counters,
    RunContext,
    materialize_stage,
    release_checkpoint,
)
from bibexpy_spark.operators import assembly, components, containment, exact, lsh
from bibexpy_spark.operators import simhash as simhash_op
from bibexpy_spark.operators import verify as verify_op

_SIG_COLS = ["conv_id", "content_sha", "shingles", "band_hashes"]


def check_pass_options(
    extra_cluster_edges: tuple[str, ...],
    with_containment: bool,
    with_simhash_pass: bool,
    containment_mode: str,
) -> None:
    """Raise ValueError when the containment mode is unknown (with the pass
    on), or an extra cluster-edge source is unknown or its pass is off
    (shared by the dedup pass, the state fold and the submit job)."""
    if with_containment and containment_mode not in containment.MODE_BACKEND:
        raise ValueError(f"unknown containment_mode: {containment_mode!r}")
    bad_sources = set(extra_cluster_edges) - {"containment", "simhash"}
    if bad_sources:
        raise ValueError(f"unknown extra_cluster_edges: {sorted(bad_sources)}")
    if "containment" in extra_cluster_edges and not with_containment:
        raise ValueError("extra_cluster_edges='containment' needs with_containment")
    if "simhash" in extra_cluster_edges and not with_simhash_pass:
        raise ValueError("extra_cluster_edges='simhash' needs with_simhash_pass")


# -- state layout ------------------------------------------------------------
# A state directory (the job's --output, the stream's state dir) holds
# ``signed``, ``clusters``, one pair table per enabled pass (named after its
# pipeline.run_dedup result key; run_incremental_dedup emits the delta under
# the same key plus ``_new``) and what its writer adds.  One manifest,
# ``_state/<n>.json``, commits a state: it names each table's directory in
# the fresh generation ``gen/<n>-<tag>/`` plus the writer's metadata — the
# parquet stand-in for an Iceberg snapshot commit.  fold_state composes
# this layout; write_state and read_state are its only writer and reader.


_PAIR_ENDS = {
    "containment_prefix": ("inner_id", "outer_id"),
    "containment_pairs": ("inner_id", "outer_id"),
    "simhash_pairs": ("a_id", "b_id"),
}


def _pair_tables(
    with_containment: bool, with_simhash_pass: bool, containment_mode: str
) -> list[str]:
    """Names of the enabled passes' pair tables (endpoints in _PAIR_ENDS)."""
    tables = []
    if with_containment:
        tables.append("containment_prefix")
        if containment_mode != "prefix":
            tables.append("containment_pairs")
    if with_simhash_pass:
        tables.append("simhash_pairs")
    return tables


def _signed_columns(with_containment: bool, with_simhash_pass: bool) -> list[str]:
    """Columns of the ``signed`` state: the signature set plus what the
    enabled passes read of a prior row in a later delta (on the old side,
    or carried to the new side when its cluster is retracted)."""
    return (
        _SIG_COLS
        + (["norm_text"] if with_containment else [])
        + (["simhash"] if with_simhash_pass else [])
    )


def compose_pair_state(
    prior: DataFrame,
    delta: DataFrame,
    retracted_ids: DataFrame,
    a: str,
    b: str,
) -> DataFrame:
    """The pair-state composition contract, single-sourced (it is
    equivalence-critical; fold_state applies it per pair table): prior
    pairs MINUS pairs touching a retracted conversation (a re-entered row:
    the delta ops re-emit its live pairs) UNION the delta pairs == the
    batch pass over old ∪ new (operators/containment.py +
    operators/simhash.py delta-op contract).

    ``retracted_ids`` is a single-column ``conv_id`` frame; ``a``/``b`` name
    the pair endpoint columns (inner_id/outer_id or a_id/b_id)."""
    return (
        prior.join(F.broadcast(retracted_ids.withColumnRenamed("conv_id", a)), a, "left_anti")
        .join(F.broadcast(retracted_ids.withColumnRenamed("conv_id", b)), b, "left_anti")
        .select(*delta.columns)
        .unionByName(delta)
    )


def merge_turns_latest_wins(prior_turns: DataFrame, delta_turns: DataFrame) -> DataFrame:
    """Latest-wins turn merge on (conv_id, turn_idx): delta rows override
    prior rows, prior-only rows survive.  Column order follows the delta."""
    return (
        prior_turns.join(
            delta_turns.select("conv_id", "turn_idx"),
            ["conv_id", "turn_idx"],
            "left_anti",
        )
        .select(*delta_turns.columns)
        .unionByName(delta_turns)
    )


def run_incremental_dedup(
    spark: SparkSession,
    new_turns: DataFrame,
    prior_signed: DataFrame | None,
    prior_clusters: DataFrame | None,
    cfg: DedupConfig = CANONICAL,
    prior_turns: DataFrame | None = None,
    with_containment: bool = False,
    with_simhash_pass: bool = False,
    containment_mode: str = "prefix",
    extra_cluster_edges: tuple[str, ...] = (),
    run: RunContext | None = None,
) -> dict[str, Any]:
    """Cluster ``new_turns`` against the prior corpus state.

    ``prior_signed``   the ``signed`` state (a batch run's ``signed``
                       output or stage table): conv_id, content_sha,
                       shingles, band_hashes.
    ``prior_clusters`` its ``clusters`` output: conv_id, cluster_id (the
                       cluster_id is the min conv_id of the cluster).
    ``prior_turns``    the previously ingested turn rows — REQUIRED when the
                       delta grows conversations already in ``prior_signed``
                       (module docstring: retract-and-resign).  At Iceberg
                       scale this is the source turn table itself; the
                       semi-join that extracts the grown conversations'
                       prior turns is partition/bucket-pruned on conv_id,
                       never a full scan.
    Both priors may be ``None`` together (a batch run, or the bootstrap
    batch of a delta chain): the prior-only stages are skipped and the
    result is the batch pass over ``new_turns``.

    With ``with_containment`` / ``with_simhash_pass`` the run also emits the
    pass pairs with >= 1 endpoint among the new or retracted conversations
    — ``containment_prefix_new`` / ``simhash_pairs_new``.  The caller keeps
    the prior pair state; dropping its pairs that touch
    ``retracted_prior_ids`` and unioning these reproduces the batch pass
    over old ∪ new (equivalence pytest-gated).  These passes need
    ``prior_signed`` to carry ``norm_text`` / ``simhash`` columns
    respectively.  ``containment_mode``: ``"prefix"`` (the lossless
    equi-join pass), ``"general"`` or ``"general_sa"`` (ALSO emit
    ``containment_pairs_new``: the complete prefix ∪ interior pass with
    match offsets, verified by JVM instr or the per-outer suffix array —
    see operators/containment.py).

    ``extra_cluster_edges``: by default clusters form over exact ∪
    Jaccard-verified edges only and the containment/SimHash passes are
    SIGNALS.  ``"containment"`` and/or ``"simhash"`` additionally union
    those pairs into the edge set — the reference's merge_references
    semantics (MergeDB.py:210-278), where a contained record is FOLDED into
    its container's group.  Against a prior state the result equals the
    batch run with the same sources over old ∪ new PROVIDED the prior state
    was itself built with them (quiet-cluster connectivity through those
    pairs lives only in the prior assignments).  A dissolved cluster's
    members re-enter the passes too, so the delta pairs hold every live
    pair edge they have; quiet-old pairs are NOT re-read: they are
    contracted inside the prior cluster super-nodes.

    ``run``: each stage is checkpointed through ``run.materialize`` —
    manifests, ``metrics.jsonl``, and a relaunch with the same run skips
    every fresh stage.  Without it each stage is cut in memory.

    Returns: signed_new (signatures for every new conversation, grown ones
    re-signed over their merged turn set), exact_edges, candidate_pairs,
    dup_edges_new, clusters (full updated assignment over old ∪ new),
    cluster_remap (prior cluster_id -> new cluster_id, only rows that
    changed), retracted_prior_ids (every re-entered prior conv_id: the
    grown conversations and the members of the clusters they dissolved;
    empty without a grown delta), stats (one-row DataFrame of the counts
    observed while the stages were computed — reading it runs no Spark
    job), cleanup (callable releasing the run's in-memory stages; call it
    after the outputs are written), plus the optional pass pair sets above.
    """
    check_pass_options(
        extra_cluster_edges, with_containment, with_simhash_pass, containment_mode
    )
    if (prior_signed is None) != (prior_clusters is None):
        # contract guard (r4 review): without prior_clusters the old
        # corpus's assignments cannot be carried — the emitted "clusters"
        # would silently omit every quiet old conversation
        raise ValueError(
            "prior_signed was given without prior_clusters, or the reverse; "
            "the full updated assignment needs both (it would silently drop "
            "every old conversation untouched by this delta)"
        )

    counts: dict[str, dict[str, int]] = {}
    stored: list[DataFrame] = []

    def stage(name: str, build, *observe) -> DataFrame:
        df, counts[name] = materialize_stage(run, name, build, *observe)
        stored.append(df)
        return df

    prior = prior_signed is not None
    sig_cols = _signed_columns(with_containment, with_simhash_pass)
    # the prior rows every operator compares against (None without a
    # prior): prior frames are only ever scanned
    old = carried = retracted_ids = None
    sign_input = new_turns
    if prior:
        old = prior_signed
        grown_ids = stage("grown", lambda: prior_signed.select("conv_id").join(
            F.broadcast(new_turns.select("conv_id")), "conv_id", "left_semi"
        ))
        n_grown = counts["grown"]["rows"]
        if n_grown and prior_turns is None:
            # contract guard: a grown conversation without its prior turns
            # cannot be re-signed — failing loudly beats entering it as a
            # second same-id row with a different signature
            raise ValueError(
                f"{n_grown} delta conversation(s) already exist "
                "in prior_signed; pass prior_turns so they can be "
                "retracted and re-signed (grown-conversation contract, "
                "module docstring)"
            )
        if n_grown:
            # latest-wins merge of the grown conversations' turn sets:
            # delta rows override prior rows on (conv_id, turn_idx)
            merged_grown = merge_turns_latest_wins(
                prior_turns.join(F.broadcast(grown_ids), "conv_id", "left_semi"),
                new_turns.join(grown_ids, "conv_id", "left_semi"),
            )
            sign_input = new_turns.join(grown_ids, "conv_id", "left_anti").unionByName(
                merged_grown
            )
            # retract the grown conversations' ENTIRE prior clusters: stale
            # connectivity through a pre-growth signature must not survive,
            # and a retraction can legitimately SPLIT a cluster — so every
            # former co-member re-enters every operator as a new-side row
            # (with its existing signature: re-signing stays O(|grown|)).
            # A cluster's id is its min member, so each retracted cluster
            # has exactly one member with conv_id == cluster_id.
            retracted = stage(
                "retracted",
                lambda: prior_clusters.join(
                    F.broadcast(
                        prior_clusters.join(F.broadcast(grown_ids), "conv_id", "left_semi")
                        .select("cluster_id").distinct()
                    ),
                    "cluster_id", "left_semi",
                ),
                F.sum((F.col("conv_id") == F.col("cluster_id")).cast("long"))
                .alias("n_retracted_clusters"),
            )
            # grown rows always count as retracted, even if the prior state
            # was inconsistent (signed without a cluster row)
            retracted_ids = retracted.select("conv_id").unionByName(grown_ids)
            carried = stage("carried", lambda: (
                prior_signed.join(
                    F.broadcast(retracted.select("conv_id")), "conv_id", "left_semi"
                )
                .join(F.broadcast(grown_ids), "conv_id", "left_anti")
                .select(*sig_cols)
            ))
            old = prior_signed.join(F.broadcast(retracted_ids), "conv_id", "left_anti")
            prior_clusters = prior_clusters.join(
                F.broadcast(retracted.select("cluster_id").distinct()),
                "cluster_id", "left_anti",
            )

    duplicate_keys = Counters("duplicate_turn_keys")

    def build_signed() -> DataFrame:
        conv = assembly.assemble_docs(
            sign_input, include_roles_tools=with_simhash_pass,
            duplicate_keys=duplicate_keys,
        )
        s = udfs.with_signature_columns(conv, cfg, text_col="doc")
        if with_simhash_pass:
            s = simhash_op.with_simhash(s, cfg)
        return s.drop("doc")

    signed_new = stage("sign", build_signed, duplicate_keys)
    # every operator's new side is the delta plus the carried rows; the
    # exact/LSH path reads only the signature columns, so ``reps`` stores
    # no text
    new_rows = signed_new
    if carried is not None:
        new_rows = signed_new.select(*sig_cols).unionByName(carried)
    new = new_rows.select(*_SIG_COLS)
    old_sigs = old.select(*_SIG_COLS) if prior else None

    exact_edges = stage(
        "exact_edges", lambda: exact.exact_edges(new, old_sigs),
        F.sum(F.col("cross").cast("long")).alias("cross_exact"),
    )
    reps = new_reps = exact.representatives(new, exact_edges)
    if prior:
        # the band join's old side: the prior reps sharing a band key with
        # a new rep.  A bucket's key is carried by every member, so the
        # touched buckets are exactly the new reps' own band hashes; same-sha
        # rows share every band key, so the semi-join keeps whole sha groups
        # and their min conv_id is the prior corpus's rep.
        def build_reps() -> DataFrame:
            new_bands = new_reps.select(
                F.posexplode("band_hashes").alias("band_idx", "band_hash")
            )
            hit_ids = (
                old_sigs.select(
                    "conv_id", F.posexplode("band_hashes").alias("band_idx", "band_hash")
                )
                .join(F.broadcast(new_bands), ["band_idx", "band_hash"], "left_semi")
                .select("conv_id")
            )
            hit = old_sigs.join(F.broadcast(hit_ids), "conv_id", "left_semi")
            hit_rep_ids = (
                hit.groupBy("content_sha").agg(F.min("conv_id").alias("conv_id"))
                .select("conv_id")
            )
            return (
                hit.join(hit_rep_ids, "conv_id", "left_semi")
                .withColumn("_is_new", F.lit(False))
                .unionByName(new_reps.withColumn("_is_new", F.lit(True)))
            )

        reps = stage("reps", build_reps)

    # against a prior, only buckets holding a new rep take part and only
    # pairs with a new endpoint come out — the batch policy's edge set for
    # the combined corpus, restricted to the delta
    bucket_counts = Counters("hot_buckets", "active_buckets")
    cand = stage(
        "candidates",
        lambda: lsh.candidate_pairs(
            reps, cfg, new_col="_is_new" if prior else None,
            bucket_counts=bucket_counts,
        )[0],
        bucket_counts,
    )
    if counts["candidates"]["rows"]:
        dup_edges = stage("verify", lambda: (
            verify_op.verify_pairs(cand, reps, cfg)
            .filter(F.col("is_dup")).select("a_id", "b_id")
        ))
    else:
        # nothing to verify: the stored empty candidate frame is the edge set
        dup_edges = cand.select("a_id", "b_id")

    # the optional passes, built before clustering so their pairs can join
    # the edge set
    passes: dict[str, DataFrame] = {}
    if with_containment:
        prefix = stage("contain_prefix", lambda: (
            containment.prefix_containment_pairs(new_rows, cfg, old)
        ))
        passes["containment_prefix_new"] = prefix
        backend = containment.MODE_BACKEND[containment_mode]
        if backend is not None:
            shingle_counts = Counters("hot_shingles", "indexed_shingles")
            passes["containment_pairs_new"] = stage(
                "contain_general",
                lambda: containment.general_containment_pairs(
                    new_rows, cfg, old, backend=backend,
                    # the prefix leg stored above — don't run its
                    # blocked self-join a second time
                    prefix_pairs=prefix,
                    shingle_counts=shingle_counts,
                ),
                shingle_counts,
            )
    if with_simhash_pass:
        chunk_counts = Counters("hot_chunk_buckets", "active_chunk_buckets")
        passes["simhash_pairs_new"] = stage(
            "fuzzy",
            lambda: simhash_op.simhash_pairs(
                new_rows, cfg, old, bucket_counts=chunk_counts
            ),
            chunk_counts,
        )

    edge_legs = [exact_edges.select("a_id", "b_id"), dup_edges]
    for source in extra_cluster_edges:
        # containment's edges are the complete pass's pairs when the mode
        # runs it, else the prefix pass's
        table = "simhash_pairs" if source == "simhash" else (
            "containment_prefix" if containment_mode == "prefix" else "containment_pairs"
        )
        a, b = _PAIR_ENDS[table]
        edge_legs.append(
            passes[table + "_new"].select(F.col(a).alias("a_id"), F.col(b).alias("b_id"))
        )
    raw = reduce(DataFrame.unionByName, edge_legs)

    if prior:
        # contracted edges: an old endpoint maps to its prior cluster_id
        # (already the member minimum, so component labels stay the global
        # min conv_id); ``*_prior`` flags a super-node.  Only the prior
        # assignments of the edges' own endpoints are read.
        def build_edges() -> DataFrame:
            ends = raw.select(F.col("a_id").alias("conv_id")).unionByName(
                raw.select(F.col("b_id").alias("conv_id"))
            )
            touched = F.broadcast(
                prior_clusters.join(F.broadcast(ends), "conv_id", "left_semi")
            )
            a, b = touched.alias("ta"), touched.alias("tb")
            return (
                raw.join(a, raw["a_id"] == F.col("ta.conv_id"), "left")
                .join(b, raw["b_id"] == F.col("tb.conv_id"), "left")
                .select(
                    F.coalesce("ta.cluster_id", "a_id").alias("a_id"),
                    F.coalesce("tb.cluster_id", "b_id").alias("b_id"),
                    F.col("ta.cluster_id").isNotNull().alias("a_prior"),
                    F.col("tb.cluster_id").isNotNull().alias("b_prior"),
                )
                .filter(F.col("a_id") != F.col("b_id"))
            )

        edges = stage("edges", build_edges)
    else:
        edges = raw.select(
            "a_id", "b_id", F.lit(False).alias("a_prior"), F.lit(False).alias("b_prior")
        )

    # the label (the component's min id) of every new conversation and of
    # each prior super-node an edge touches, with the prior flag.  An
    # untouched prior cluster keeps its own label.
    def build_labels() -> DataFrame:
        nodes = new.select("conv_id", F.lit(False).alias("prior"))
        if prior:
            nodes = nodes.unionByName(
                edges.filter("a_prior").select(F.col("a_id").alias("conv_id"))
                .unionByName(edges.filter("b_prior").select(F.col("b_id").alias("conv_id")))
                .distinct()
                .withColumn("prior", F.lit(True))
            )
        return components.connected_components(edges, nodes, cfg).withColumnRenamed(
            "cluster_id", "label"
        )

    merged = F.col("prior") & (F.col("conv_id") != F.col("label"))
    labels = stage(
        "cluster", build_labels,
        F.sum(merged.cast("long")).alias("n_merged_prior_clusters"),
    )
    remap = labels.filter(merged).select(
        F.col("conv_id").alias("old_cluster_id"), F.col("label").alias("cluster_id")
    )
    clusters = labels.filter(~F.col("prior")).select(
        "conv_id", F.col("label").alias("cluster_id")
    )
    if prior:
        clusters = (
            prior_clusters.join(
                F.broadcast(remap.select(
                    F.col("old_cluster_id").alias("cluster_id"),
                    F.col("cluster_id").alias("_new"),
                )),
                "cluster_id", "left",
            )
            .select("conv_id", F.coalesce("_new", "cluster_id").alias("cluster_id"))
            .unionByName(clusters)
        )

    def _n(name: str, key: str = "rows") -> int:
        return counts.get(name, {}).get(key) or 0

    # an inline VALUES table is a local relation: reading it runs no job.
    # Each new row (carried ones included) is a rep or has one exact edge.
    stats = spark.sql(
        "SELECT * FROM VALUES ({}) AS stats({})".format(
            ", ".join(f"{v}L" for v in (
                _n("sign"), _n("exact_edges", "cross_exact"),
                _n("sign") + _n("carried") - _n("exact_edges"),
                _n("candidates"), _n("verify"),
                _n("cluster", "n_merged_prior_clusters"), _n("carried"),
                _n("retracted", "n_retracted_clusters"),
            )),
            "n_new, n_cross_exact, n_new_reps, n_candidates, n_dup_edges, "
            "n_merged_prior_clusters, n_carried, n_retracted_clusters",
        )
    )

    def _cleanup() -> None:
        """Release the in-memory stages of a run without a RunContext.
        Call AFTER the outputs are written (a long micro-batch delta chain
        would otherwise keep every batch's stages in executor storage for
        the session lifetime); with a RunContext the stages are tables and
        there is nothing to release."""
        if run is None:
            for df in stored:
                release_checkpoint(df)

    return {
        "signed_new": signed_new,
        "exact_edges": exact_edges,
        "candidate_pairs": cand,
        "dup_edges_new": dup_edges,
        "clusters": clusters,
        "cluster_remap": remap,
        "retracted_prior_ids": (
            retracted_ids if retracted_ids is not None
            else signed_new.select("conv_id").filter(F.lit(False))
        ),
        "stats": stats,
        "cleanup": _cleanup,
        **passes,
    }


def _hadoop_path(spark: SparkSession, path: str, *children: str):
    """``(fs, path)``: the Hadoop Path of ``path``/``children`` and its
    FileSystem, so the commit works on any store Spark reads."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(os.path.join(path, *children))
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def read_manifest(spark: SparkSession, state_dir: str) -> dict[str, Any] | None:
    """The newest manifest of ``state_dir`` (None: nothing ever committed)."""
    fs, log = _hadoop_path(spark, state_dir, "_state")
    found = [
        int(m.group(1)) for st in (fs.listStatus(log) if fs.exists(log) else [])
        if (m := re.fullmatch(r"(\d+)\.json", st.getPath().getName()))
    ]
    if not found:
        return None
    stream = fs.open(spark._jvm.org.apache.hadoop.fs.Path(log, f"{max(found)}.json"))
    try:
        return json.loads(spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()


def read_state(spark: SparkSession, state_dir: str) -> dict[str, DataFrame]:
    """Every table the newest manifest of ``state_dir`` names (lazy reads).
    Raises ValueError before any compute when there is no manifest or it
    names a missing table."""
    manifest = read_manifest(spark, state_dir)
    if manifest is None:
        raise ValueError(
            f"state {state_dir!r} has no manifest (_state/<n>.json): no write "
            "ever committed there (it failed before its commit, or another "
            "program wrote the directory) — point at a committed state"
        )
    tables = {}
    for name, rel in manifest["tables"].items():
        fs, path = _hadoop_path(spark, state_dir, rel)
        if not fs.exists(path):
            raise ValueError(
                f"state {state_dir!r}: its manifest names {rel}, which is "
                "missing — the state was damaged after its commit"
            )
        tables[name] = spark.read.parquet(os.path.join(state_dir, rel))
    return tables


def _commit_manifest(
    spark: SparkSession, state_dir: str, gen: str, manifest: dict[str, Any]
) -> None:
    """The commit: write the manifest to a tmp file, then rename it to
    ``_state/<n>.json``, a name that must not exist yet (so of two writers
    of generation n, the second fails)."""
    n = manifest["generation"]
    fs, tmp = _hadoop_path(spark, state_dir, "_state", f"{gen}.tmp")
    _, final = _hadoop_path(spark, state_dir, "_state", f"{n}.json")
    out = fs.create(tmp, False)
    try:
        out.write(json.dumps(manifest).encode())
    finally:
        out.close()
    if fs.exists(final) or not fs.rename(tmp, final):
        raise RuntimeError(f"state {state_dir!r}: another writer committed generation {n}")


def _collect_garbage(spark: SparkSession, state_dir: str, gen: str) -> None:
    """Delete the older manifests, then every generation at or below
    ``gen`` that is not ``gen`` (a later one may be another writer's, still
    at work)."""
    n = int(gen.split("-")[0])
    for folder in ("_state", "gen"):
        fs, path = _hadoop_path(spark, state_dir, folder)
        for st in fs.listStatus(path) if fs.exists(path) else []:
            name = st.getPath().getName()
            m = re.match(r"(\d+)\D", name)  # hidden .crc files do not match
            if m and int(m.group(1)) <= n and name not in (f"{n}.json", gen):
                fs.delete(st.getPath(), True)


def write_state(
    state_dir: str, tables: dict[str, DataFrame], **meta: Any
) -> dict[str, Any]:
    """Commit ``tables`` as the next state of ``state_dir``: write each into
    a fresh generation directory (never over a live table), create the next
    manifest naming them plus ``meta``, then delete what no manifest names.
    A crash before the manifest leaves the previous state in force; one
    after it leaves garbage for the next commit to delete.  Returns the
    manifest."""
    spark = next(iter(tables.values())).sparkSession
    prev = read_manifest(spark, state_dir)
    n = prev["generation"] + 1 if prev else 1
    gen = f"{n}-{uuid.uuid4().hex[:8]}"
    for name, df in tables.items():
        df.write.parquet(os.path.join(state_dir, "gen", gen, name))
    manifest = {
        "generation": n, "tables": {name: f"gen/{gen}/{name}" for name in tables}, **meta
    }
    _commit_manifest(spark, state_dir, gen, manifest)
    _collect_garbage(spark, state_dir, gen)
    return manifest


def fold_state(
    spark: SparkSession,
    new_turns: DataFrame,
    prior: dict[str, DataFrame] | None,
    cfg: DedupConfig = CANONICAL,
    prior_turns: DataFrame | None = None,
    with_containment: bool = False,
    with_simhash_pass: bool = False,
    containment_mode: str = "prefix",
    extra_cluster_edges: tuple[str, ...] = (),
    run: RunContext | None = None,
) -> tuple[dict[str, Any], dict[str, DataFrame]]:
    """Fold ``new_turns`` into ``prior``, the tables read_state returned
    for the prior state, via run_incremental_dedup (``run`` is passed
    through: with a RunContext the stages resume).  ``prior=None`` is a
    batch run: the state it returns is the first state of a delta chain.

    Composes only — state I/O is read_state's and write_state's.  Raises
    ValueError before computing anything when ``prior`` lacks ``signed``,
    ``clusters`` or an enabled pass's pair table, or ``signed`` lacks a
    column an enabled pass reads — composing against a missing or partial
    table would silently truncate the next state.

    Returns ``(res, next_state)``: the run_incremental_dedup result and the
    next state tables by name — ``signed`` (prior rows minus re-signed ones,
    plus the delta's), ``clusters`` and each pair table composed via
    compose_pair_state over ``retracted_prior_ids``.  ``write_state``
    commits them (plus any table the caller adds) as the state the next
    delta folds into."""
    check_pass_options(
        extra_cluster_edges, with_containment, with_simhash_pass, containment_mode
    )
    pairs = _pair_tables(with_containment, with_simhash_pass, containment_mode)
    sig_cols = _signed_columns(with_containment, with_simhash_pass)
    if prior is None:
        prior = {}
    else:
        for name in ["signed", "clusters", *pairs]:
            if name not in prior:
                raise ValueError(
                    f"prior state has no {name}/ table: it was written with "
                    "that pass off or in another containment mode — rebuild "
                    "it with a batch run that has the same passes on"
                )
        missing = [c for c in sig_cols if c not in prior["signed"].columns]
        if missing:
            raise ValueError(
                f"prior state: signed/ lacks {missing}, which the enabled "
                "passes read — it was written with those passes off"
            )

    res = run_incremental_dedup(
        spark, new_turns, prior.get("signed"), prior.get("clusters"), cfg=cfg,
        prior_turns=prior_turns,
        with_containment=with_containment,
        with_simhash_pass=with_simhash_pass,
        containment_mode=containment_mode,
        extra_cluster_edges=extra_cluster_edges,
        run=run,
    )
    # upsert: a re-signed (grown) conversation replaces its prior row
    signed = res["signed_new"].select(*sig_cols)
    if prior:
        signed = (
            prior["signed"].select(*sig_cols)
            .join(F.broadcast(res["signed_new"].select("conv_id")), "conv_id", "left_anti")
            .unionByName(signed)
        )
    next_state = {"signed": signed, "clusters": res["clusters"]}
    for table in pairs:
        delta = res[table + "_new"]
        next_state[table] = (
            compose_pair_state(
                prior[table], delta, res["retracted_prior_ids"], *_PAIR_ENDS[table]
            )
            if prior
            else delta
        )
    return res, next_state
