"""Incremental dedup: cluster a NEW batch against an already-clustered
corpus without recomputing the existing signatures.

The operational mode at 10^12-turn scale is not one batch run but a daily
delta: sign and candidate-join ONLY the new conversations, reuse the prior
corpus's persisted signatures (the pipeline's ``signed`` stage table) and
cluster assignments, and emit the updated clustering plus a remap of any
prior clusters that merged.  ``fold_state`` wraps this for a state
directory: it reads the prior tables, runs the delta and returns the next
state (the submit job's --incremental mode and the stream both use it).

Deltas may also GROW conversations already clustered (the common shape for
live transcript tables: a batch appends turns to an open ``conv_id`` —
reference analogue: record patch then re-merge, apps/api/routers/
records.py:53-121).  With ``prior_turns`` provided, a grown conversation is
retracted and re-signed: its full turn set is rebuilt latest-wins
((conv_id, turn_idx) keys from the delta override prior rows, so appends,
re-deliveries AND turn edits all fold in), its ENTIRE prior cluster is
dissolved (stale connectivity through the old signature must not survive),
and the grown conversation plus its former co-members re-enter the
candidate/verify/cluster path — co-members with their existing signatures,
so re-signing stays O(|grown|).  Without ``prior_turns`` a grown delta is a
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
approximation the batch path already makes.

Scale shape:
  * signing cost is O(|delta|), never O(|corpus|);
  * the band join is ``lsh.bucket_pairs`` with a new-flag — the batch
    pass's bucket policy, restricted to buckets CONTAINING a new member;
    the touched-bucket set is derived from the DELTA's own band hashes
    before any aggregation — the old corpus is scanned (narrow
    conv_id+bands projection, semi-join) but never wide-shuffled: the
    bucket groupBy is O(|touched|), not O(|corpus|·bands);
  * prior clusters enter connected components CONTRACTED to one super-node
    per cluster (its cluster_id, which is already the min conv_id of its
    members), so CC size is O(|delta| + |touched clusters|), not
    O(|corpus|);
  * shuffle keys are the same 128-bit surrogate structs as the batch
    pipeline; conv_id strings only at the boundary.
"""

from __future__ import annotations

import os
from functools import reduce
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bibexpy_spark.config import CANONICAL, DedupConfig
from bibexpy_spark.functions import udfs
from bibexpy_spark.operators import assembly, components, containment, exact, lsh
from bibexpy_spark.operators import simhash as simhash_op
from bibexpy_spark.operators import verify as verify_op
from bibexpy_spark.pipeline import check_pass_options, surrogate_id

_SIG_COLS = ["conv_id", "content_sha", "shingles", "band_hashes"]


# -- delta-state layout ------------------------------------------------------
# A state directory (a batch run's output, an incremental run's output, the
# stream's state dir) holds ``signed``, ``clusters`` and one pair table per
# enabled pass.  Each pair table is named after its pipeline.run_dedup
# result key; run_incremental_dedup emits the delta under the same key plus
# ``_new``.  fold_state is the only reader and composer of this layout.


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
    enabled passes read on the old side of a later delta."""
    return (
        _SIG_COLS
        + (["norm_text"] if with_containment else [])
        + (["simhash"] if with_simhash_pass else [])
    )


def batch_state(
    res: dict[str, Any],
    with_containment: bool,
    with_simhash_pass: bool,
    containment_mode: str,
) -> dict[str, DataFrame]:
    """The state tables of a pipeline.run_dedup result, by name — exactly
    what a later fold_state over the written directory reads back."""
    sig_cols = _signed_columns(with_containment, with_simhash_pass)
    state = {"signed": res["signed"].select(*sig_cols), "clusters": res["clusters"]}
    for name in _pair_tables(with_containment, with_simhash_pass, containment_mode):
        state[name] = res[name]
    return state


def compose_pair_state(
    prior: DataFrame,
    delta: DataFrame,
    resigned_ids: DataFrame,
    a: str,
    b: str,
) -> DataFrame:
    """The pair-state composition contract, single-sourced (it is
    equivalence-critical; fold_state applies it per pair table): prior
    pairs MINUS pairs touching a re-signed conversation (their live
    successors are re-emitted by the delta ops) UNION the delta pairs ==
    the batch pass over old ∪ new (operators/containment.py +
    operators/simhash.py delta-op contract).

    ``resigned_ids`` is a single-column ``conv_id`` frame; ``a``/``b`` name
    the pair endpoint columns (inner_id/outer_id or a_id/b_id)."""
    return (
        prior.join(resigned_ids.withColumnRenamed("conv_id", a), a, "left_anti")
        .join(resigned_ids.withColumnRenamed("conv_id", b), b, "left_anti")
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
    prior_extra_pairs: DataFrame | None = None,
) -> dict[str, Any]:
    """Cluster ``new_turns`` against the prior corpus state.

    ``prior_signed``   the batch pipeline's ``signed`` output (or stage
                       table): conv_id, content_sha, shingles, band_hashes.
    ``prior_clusters`` its ``clusters`` output: conv_id, cluster_id (the
                       cluster_id is the min conv_id of the cluster).
    ``prior_turns``    the previously ingested turn rows — REQUIRED when the
                       delta grows conversations already in ``prior_signed``
                       (module docstring: retract-and-resign).  At Iceberg
                       scale this is the source turn table itself; the
                       semi-join that extracts the grown conversations'
                       prior turns is partition/bucket-pruned on conv_id,
                       never a full scan.
    Both priors may be ``None`` (the bootstrap batch of a delta chain):
    the run then clusters the new batch against nothing, which equals a
    plain batch run — so a chain of deltas starting from empty state is
    batch-equivalent by induction.

    With ``with_containment`` / ``with_simhash_pass`` the run also emits the
    DELTA pair sets of the batch pipeline's contain / fuzzy passes —
    ``containment_prefix_new`` / ``simhash_pairs_new``, exactly the pairs
    with >= 1 endpoint among the delta conversations.  The caller keeps the
    prior pair state; dropping its pairs that touch ``resigned_prior_ids``
    and unioning the delta pairs reproduces the batch pass over old ∪ new
    (equivalence pytest-gated).  These passes need ``prior_signed`` to carry
    ``norm_text`` / ``simhash`` columns respectively (the batch pipeline's
    ``signed`` output has both).  ``containment_mode`` mirrors
    ``pipeline.run_dedup``: ``"general"`` / ``"general_sa"`` additionally
    emit ``containment_pairs_new`` — the delta of the COMPLETE
    (prefix ∪ interior, with match offsets) pass.

    ``extra_cluster_edges`` mirrors ``pipeline.run_dedup``: the named
    passes' pairs additionally join the clustering edge set, and the result
    equals the batch run with the same sources over old ∪ new — PROVIDED
    the prior state was itself built with the same sources (quiet-cluster
    connectivity through those pairs lives only in the prior assignments)
    and, when the delta grows conversations, ``prior_extra_pairs`` supplies
    the maintained prior pair state as a two-column (a_id, b_id) DataFrame
    (the union of the state tables the submit job / stream handler keep):
    a dissolved cluster's members re-enter clustering, and their surviving
    pair edges exist nowhere else — the delta ops only emit
    >=1-new-endpoint pairs.  Quiet-old pairs are NOT re-read: they are
    contracted inside the prior cluster super-nodes, so the extra edge
    volume stays O(|delta| + pairs touching dissolved clusters).

    Returns: signed_new (signatures for every delta conversation, grown ones
    re-signed over their merged turn set), clusters (full updated assignment
    over old ∪ new), cluster_remap (prior cluster_id -> new cluster_id, only
    rows that changed), dup_edges_new, resigned_prior_ids, stats (one-row
    DataFrame), cleanup (callable releasing the run's caches), plus the
    optional delta pair sets above.
    """
    from pyspark.sql import types as T

    check_pass_options(
        extra_cluster_edges, with_containment, with_simhash_pass, containment_mode
    )

    carried: DataFrame | None = None
    touched_cluster_ids: DataFrame | None = None
    resigned_ids: DataFrame | None = None
    prior_signed_orig = prior_signed
    sign_input = new_turns
    if prior_signed is not None and prior_clusters is None:
        # contract guard (r4 review): with prior_signed but no
        # prior_clusters, the old corpus's assignments cannot be carried —
        # the emitted "clusters" would silently omit every quiet old
        # conversation.  Failing loudly mirrors the prior_turns guard.
        raise ValueError(
            "prior_signed was provided without prior_clusters; the full "
            "updated assignment cannot be produced without the prior "
            "cluster table (it would silently drop every old conversation "
            "untouched by this delta)"
        )
    if prior_signed is not None:
        grown_ids = (
            new_turns.select("conv_id").distinct()
            .join(prior_signed.select("conv_id"), "conv_id", "left_semi")
        )
        if prior_turns is None:
            # contract guard: a grown conversation without its prior turns
            # cannot be re-signed — failing loudly beats entering it as a
            # second same-id row with a different signature.  isEmpty (a
            # limit-1 probe) on the happy path; the exact count is computed
            # only when raising (r4 review: the all-new daily delta paid a
            # full count() aggregation here on every run)
            if not grown_ids.isEmpty():
                raise ValueError(
                    f"{grown_ids.count()} delta conversation(s) already exist "
                    "in prior_signed; pass prior_turns so they can be "
                    "retracted and re-signed (grown-conversation contract, "
                    "module docstring)"
                )
        else:
            # the grown-id / touched-cluster sets are delta-sized but reused
            # by half a dozen joins below; truncate their lineage eagerly so
            # a caller passing LIVE pipeline outputs (rather than state
            # tables) doesn't compound plan depth into Catalyst-analysis
            # blowup (measured: un-truncated plans hang the optimizer)
            grown_ids = grown_ids.localCheckpoint(eager=True)
        if prior_turns is not None and not grown_ids.isEmpty():
            # (isEmpty on the checkpointed delta-sized frame is ~free; a
            # purely-new delta must NOT enter the grown path — it would
            # set `carried` to an empty-but-not-None frame and spuriously
            # trigger the prior_extra_pairs requirement below)
            resigned_ids = grown_ids
            # latest-wins merge of the grown conversations' turn sets:
            # delta rows override prior rows on (conv_id, turn_idx)
            grown_delta = new_turns.join(grown_ids, "conv_id", "left_semi")
            fresh_delta = new_turns.join(grown_ids, "conv_id", "left_anti")
            merged_grown = merge_turns_latest_wins(
                prior_turns.join(grown_ids, "conv_id", "left_semi"), grown_delta
            )
            sign_input = fresh_delta.unionByName(merged_grown)
            # retract the grown conversations' ENTIRE prior clusters: stale
            # connectivity through a pre-growth signature must not survive,
            # and a retraction can legitimately SPLIT a cluster — so every
            # former co-member re-enters the candidate/verify/cluster path
            # (with its existing signature: re-signing stays O(|grown|))
            if prior_clusters is not None:
                touched_cluster_ids = (
                    prior_clusters.join(grown_ids, "conv_id", "left_semi")
                    .select("cluster_id")
                    .distinct()
                    .localCheckpoint(eager=True)
                )
                touched_members = (
                    prior_clusters.join(
                        touched_cluster_ids, "cluster_id", "left_semi"
                    )
                    .select("conv_id")
                    .localCheckpoint(eager=True)
                )
                carried = (
                    prior_signed.join(touched_members, "conv_id", "left_semi")
                    .join(grown_ids, "conv_id", "left_anti")
                    .select(*_SIG_COLS)
                )
                prior_signed = prior_signed.join(
                    touched_members, "conv_id", "left_anti"
                )
                prior_clusters = prior_clusters.join(
                    touched_cluster_ids, "cluster_id", "left_anti"
                )
            # defensive: grown rows always leave the old side, even if the
            # prior state was inconsistent (signed without a cluster row)
            prior_signed = prior_signed.join(grown_ids, "conv_id", "left_anti")

    conv = assembly.assemble_docs(sign_input, include_roles_tools=with_simhash_pass)
    _s = udfs.with_signature_columns(conv, cfg, text_col="doc")
    if with_simhash_pass:
        _s = simhash_op.with_simhash(_s, cfg)
    signed_new = _s.drop("doc").persist()
    new = signed_new.select(*_SIG_COLS)
    if carried is not None:
        new = new.unionByName(carried).persist()
    if prior_signed is None:
        prior_signed = spark.createDataFrame([], new.schema)
    if prior_clusters is None:
        cid_t = new.schema["conv_id"].dataType
        prior_clusters = spark.createDataFrame(
            [],
            T.StructType(
                [T.StructField("conv_id", cid_t), T.StructField("cluster_id", cid_t)]
            ),
        )
    old = prior_signed.select(*_SIG_COLS)

    # prior exact representatives: one row per distinct old content hash
    # (map-side-combinable agg over the narrow (sha, id) projection)
    old_rep_ids = old.groupBy("content_sha").agg(F.min("conv_id").alias("conv_id"))
    old_reps = old.join(old_rep_ids, ["content_sha", "conv_id"])

    # 1) cross-batch exact duplicates: new rows whose sha exists in the old
    #    corpus attach to the old representative and skip the fuzzy path
    #    entirely (identical signatures add no connectivity)
    sha_match = new.select("conv_id", "content_sha").join(
        old_rep_ids.select(
            "content_sha", F.col("conv_id").alias("_old_rep")
        ),
        "content_sha",
    )
    cross_exact_edges = sha_match.select(
        F.col("_old_rep").alias("a_id"), F.col("conv_id").alias("b_id")
    )
    new_um = new.join(sha_match.select("conv_id"), "conv_id", "left_anti")

    # 2) within-batch exact groups among the remaining new rows
    grouped = exact.exact_groups(new_um)
    new_exact_edges = exact.exact_edges(grouped)
    new_reps = exact.representatives(grouped).select(*_SIG_COLS)

    # 3) LSH band join, delta-driven (lsh.bucket_pairs with the new-flag):
    #    only buckets containing >= 1 new rep participate, and only pairs
    #    with a new endpoint come out — the batch policy's edge set for the
    #    combined corpus, restricted to the delta.  A bucket's key is carried
    #    by every member, so the touched buckets are exactly the delta reps'
    #    own band hashes: ``combined`` keeps only the old reps sharing one
    #    (a broadcast/AQE semi-join over a narrow conv_id+bands projection —
    #    the old corpus is scanned, never wide-shuffled), and it is also the
    #    signature side of the verify below.
    new_bands = (
        new_reps.select(
            F.posexplode("band_hashes").alias("band_idx", "band_hash")
        ).distinct()
    )
    old_touched_ids = (
        old_reps.select(
            "conv_id", F.posexplode("band_hashes").alias("band_idx", "band_hash")
        )
        .join(new_bands, ["band_idx", "band_hash"], "left_semi")
        .select("conv_id")
        .distinct()
    )
    combined = (
        old_reps.join(old_touched_ids, "conv_id", "left_semi")
        .withColumn("_is_new", F.lit(False))
        .unionByName(new_reps.withColumn("_is_new", F.lit(True)))
        .persist()
    )
    band_pairs, _ = lsh.bucket_pairs(
        combined.select(
            "conv_id", "_is_new",
            F.posexplode("band_hashes").alias("band_idx", "band_hash"),
        ),
        ("band_idx", "band_hash"), "conv_id", cfg.hot_band_cap, new_col="_is_new",
    )
    cand = band_pairs.dropDuplicates(["a_id", "b_id"])

    # 4) exact Jaccard verification against the combined rep signatures
    verified = verify_op.verify_pairs(cand, combined, cfg, id_col="conv_id")
    dup_edges = verified.filter(F.col("is_dup")).select("a_id", "b_id")

    # 4b) optional pass deltas (computed before clustering so their pairs
    #     can join the edge set): contain/fuzzy run over ALL rows (not
    #     exact-dup reps), so their old side is the ORIGINAL prior corpus
    #     minus the re-signed conversations (whose stale rows the caller
    #     also drops from the prior pair state via resigned_prior_ids)
    resigned = (
        resigned_ids
        if resigned_ids is not None
        else new.select("conv_id").filter(F.lit(False))
    )
    delta_passes: dict[str, DataFrame] = {}
    if with_containment or with_simhash_pass:
        if prior_signed_orig is None:
            old_full = signed_new.filter(F.lit(False))
        else:
            old_full = prior_signed_orig.join(resigned, "conv_id", "left_anti")
        if with_containment:
            delta_passes["containment_prefix_new"] = (
                containment.prefix_containment_pairs_delta(old_full, signed_new, cfg)
            )
            backend = containment.MODE_BACKEND[containment_mode]
            if backend is not None:
                # delta-sized: persist so the general pass's prefix leg and
                # the caller's own materialization share one computation
                # (released by the cleanup hook)
                delta_passes["containment_prefix_new"] = (
                    delta_passes["containment_prefix_new"].persist()
                )
                delta_passes["containment_pairs_new"] = (
                    containment.general_containment_pairs_delta(
                        old_full,
                        signed_new,
                        cfg,
                        backend=backend,
                        # the prefix leg just computed above — don't run
                        # its blocked self-join a second time
                        prefix_pairs=delta_passes["containment_prefix_new"],
                    )
                )
        if with_simhash_pass:
            delta_passes["simhash_pairs_new"] = simhash_op.simhash_pairs_delta(
                old_full, signed_new, cfg
            )

    extra_edge_df: DataFrame | None = None
    if extra_cluster_edges:
        legs: list[DataFrame] = []
        if "containment" in extra_cluster_edges:
            src = delta_passes.get(
                "containment_pairs_new", delta_passes["containment_prefix_new"]
            )
            legs.append(
                src.select(
                    F.col("inner_id").alias("a_id"), F.col("outer_id").alias("b_id")
                )
            )
        if "simhash" in extra_cluster_edges:
            legs.append(delta_passes["simhash_pairs_new"].select("a_id", "b_id"))
        extra_edge_df = legs[0]
        for leg in legs[1:]:
            extra_edge_df = extra_edge_df.unionByName(leg)
        if carried is not None:
            # a dissolved cluster's members re-enter clustering; their
            # surviving pair edges live ONLY in the maintained prior pair
            # state (the delta ops emit >=1-new-endpoint pairs; quiet-old
            # connectivity is contracted inside the prior super-nodes)
            if prior_extra_pairs is None:
                raise ValueError(
                    "extra_cluster_edges with a grown delta needs "
                    "prior_extra_pairs (the maintained pair state): a "
                    "dissolved cluster's surviving pair edges exist "
                    "nowhere else"
                )
            carried_ids = carried.select("conv_id")
            pe = prior_extra_pairs.select("a_id", "b_id")
            touching = (
                pe.join(
                    carried_ids.withColumnRenamed("conv_id", "a_id"),
                    "a_id", "left_semi",
                )
                .unionByName(
                    pe.join(
                        carried_ids.withColumnRenamed("conv_id", "b_id"),
                        "b_id", "left_semi",
                    ).select("a_id", "b_id")
                )
                .dropDuplicates(["a_id", "b_id"])
                # stale pairs of re-signed conversations: the delta ops
                # re-emit their live successors
                .join(
                    resigned.withColumnRenamed("conv_id", "a_id"),
                    "a_id", "left_anti",
                )
                .join(
                    resigned.withColumnRenamed("conv_id", "b_id"),
                    "b_id", "left_anti",
                )
            )
            extra_edge_df = extra_edge_df.unionByName(touching)

    # 5) connected components with prior clusters contracted to super-nodes:
    #    old endpoints map to their prior cluster_id (already the member
    #    minimum, so component labels stay global min conv_id)
    old_map = prior_clusters.select(
        F.col("conv_id").alias("_oc"), F.col("cluster_id").alias("_ocl")
    )

    def _contract(edges: DataFrame) -> DataFrame:
        e = edges.join(
            old_map.withColumnRenamed("_oc", "a_id").withColumnRenamed("_ocl", "_acl"),
            "a_id", "left",
        ).join(
            old_map.withColumnRenamed("_oc", "b_id").withColumnRenamed("_ocl", "_bcl"),
            "b_id", "left",
        )
        return e.select(
            F.coalesce("_acl", "a_id").alias("a_key"),
            F.coalesce("_bcl", "b_id").alias("b_key"),
        ).filter(F.col("a_key") != F.col("b_key"))

    all_edges = (
        _contract(cross_exact_edges)
        .unionByName(_contract(new_exact_edges))
        .unionByName(_contract(dup_edges))
    )
    if extra_edge_df is not None:
        all_edges = all_edges.unionByName(_contract(extra_edge_df))
    nodes = (
        new.select(F.col("conv_id").alias("key"))
        .unionByName(prior_clusters.select(F.col("cluster_id").alias("key")).distinct())
        .distinct()
    )

    nid_edges = all_edges.select(
        surrogate_id(F.col("a_key")).alias("a_id"),
        surrogate_id(F.col("b_key")).alias("b_id"),
    )
    nid_nodes = nodes.select("key", surrogate_id(F.col("key")).alias("nid"))
    cl_nid = components.connected_components(
        nid_edges, nid_nodes.select("nid"), cfg, id_col="nid"
    )
    lab = cl_nid.join(nid_nodes, "nid")
    label_min = lab.groupBy("cluster_id").agg(F.min("key").alias("_label"))
    key_label = lab.join(label_min, "cluster_id").select("key", "_label")

    remap = (
        prior_clusters.select(F.col("cluster_id").alias("key")).distinct()
        .join(key_label, "key")
        .filter(F.col("key") != F.col("_label"))
        .select(
            F.col("key").alias("old_cluster_id"),
            F.col("_label").alias("cluster_id"),
        )
    )
    prior_updated = (
        prior_clusters.join(
            remap.select(
                F.col("old_cluster_id").alias("cluster_id"),
                F.col("cluster_id").alias("_new"),
            ),
            "cluster_id", "left",
        )
        .select("conv_id", F.coalesce("_new", "cluster_id").alias("cluster_id"))
    )
    new_side_ids = new.select("conv_id")
    new_clusters = (
        new_side_ids
        .join(key_label, new_side_ids["conv_id"] == key_label["key"])
        .select("conv_id", F.col("_label").alias("cluster_id"))
    )
    clusters = prior_updated.unionByName(new_clusters)

    carried_cnt = (
        carried.agg(F.count("*").alias("n_carried"))
        if carried is not None
        else spark.range(1).select(F.lit(0).cast("long").alias("n_carried"))
    )
    retracted_cnt = (
        touched_cluster_ids.agg(F.count("*").alias("n_retracted_clusters"))
        if touched_cluster_ids is not None
        else spark.range(1).select(
            F.lit(0).cast("long").alias("n_retracted_clusters")
        )
    )
    stats = (
        signed_new.agg(F.count("*").alias("n_new"))
        .crossJoin(sha_match.agg(F.count("*").alias("n_cross_exact")))
        .crossJoin(new_reps.agg(F.count("*").alias("n_new_reps")))
        .crossJoin(cand.agg(F.count("*").alias("n_candidates")))
        .crossJoin(dup_edges.agg(F.count("*").alias("n_dup_edges")))
        .crossJoin(remap.agg(F.count("*").alias("n_merged_prior_clusters")))
        .crossJoin(carried_cnt)
        .crossJoin(retracted_cnt)
    )
    def _cleanup() -> None:
        """Unpersist the run's cached intermediates.  Call AFTER the outputs
        are materialized (ADVICE r3: a long micro-batch delta chain would
        otherwise accumulate three cached DataFrames per batch in executor
        storage for the session lifetime)."""
        for df in (signed_new, new, combined):
            df.unpersist()
        pref = delta_passes.get("containment_prefix_new")
        if pref is not None and "containment_pairs_new" in delta_passes:
            pref.unpersist()

    out: dict[str, Any] = {
        "signed_new": signed_new,
        "clusters": clusters,
        "cluster_remap": remap,
        "dup_edges_new": dup_edges,
        "candidate_pairs": cand,
        "resigned_prior_ids": resigned,
        "stats": stats,
        "cleanup": _cleanup,
    }
    out.update(delta_passes)
    return out


def _read_state(spark: SparkSession, prior_dir: str, name: str) -> DataFrame:
    try:
        return spark.read.parquet(os.path.join(prior_dir, name))
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        raise ValueError(
            f"prior state {prior_dir!r} has no {name}/ table: it was written "
            "with that pass off or in another containment mode — rebuild it "
            "with a batch run that has the same passes on"
        ) from None


def fold_state(
    spark: SparkSession,
    new_turns: DataFrame,
    prior_dir: str | None,
    cfg: DedupConfig = CANONICAL,
    prior_turns: DataFrame | None = None,
    with_containment: bool = False,
    with_simhash_pass: bool = False,
    containment_mode: str = "prefix",
    extra_cluster_edges: tuple[str, ...] = (),
) -> tuple[dict[str, Any], dict[str, DataFrame]]:
    """Fold ``new_turns`` into the state under ``prior_dir`` (``None``:
    bootstrap from empty state) via run_incremental_dedup.

    Reads ``signed``, ``clusters`` and each enabled pass's pair table, and
    raises ValueError before computing anything when one is missing or
    ``signed`` lacks a column an enabled pass reads — composing against a
    missing table would silently truncate the next state to delta-only
    pairs.  The prior pair tables of ``extra_cluster_edges`` sources feed
    ``prior_extra_pairs``.

    Returns ``(res, next_state)``: the run_incremental_dedup result and the
    next state tables by name — ``signed`` (prior rows minus re-signed ones,
    plus the delta's), ``clusters`` and each pair table composed via
    compose_pair_state.  Writing every table of ``next_state`` to a fresh
    directory gives the ``prior_dir`` of the next delta."""
    check_pass_options(
        extra_cluster_edges, with_containment, with_simhash_pass, containment_mode
    )
    pairs = _pair_tables(with_containment, with_simhash_pass, containment_mode)
    sig_cols = _signed_columns(with_containment, with_simhash_pass)
    prior: dict[str, DataFrame] = {}
    prior_extra = None
    if prior_dir is not None:
        for name in ["signed", "clusters", *pairs]:
            prior[name] = _read_state(spark, prior_dir, name)
        missing = [c for c in sig_cols if c not in prior["signed"].columns]
        if missing:
            raise ValueError(
                f"prior state {prior_dir!r}: signed/ lacks {missing}, which "
                "the enabled passes read — it was written with those passes "
                "off"
            )
        edge_table = {
            "containment": "containment_prefix"
            if containment_mode == "prefix" else "containment_pairs",
            "simhash": "simhash_pairs",
        }
        legs = []
        for source in extra_cluster_edges:
            table = edge_table[source]
            a, b = _PAIR_ENDS[table]
            legs.append(
                prior[table].select(F.col(a).alias("a_id"), F.col(b).alias("b_id"))
            )
        if legs:
            prior_extra = reduce(DataFrame.unionByName, legs)

    res = run_incremental_dedup(
        spark, new_turns, prior.get("signed"), prior.get("clusters"), cfg=cfg,
        prior_turns=prior_turns,
        with_containment=with_containment,
        with_simhash_pass=with_simhash_pass,
        containment_mode=containment_mode,
        extra_cluster_edges=extra_cluster_edges,
        prior_extra_pairs=prior_extra,
    )
    # upsert: a re-signed (grown) conversation replaces its prior row
    signed = res["signed_new"].select(*sig_cols)
    if prior:
        signed = (
            prior["signed"].select(*sig_cols)
            .join(res["signed_new"].select("conv_id"), "conv_id", "left_anti")
            .unionByName(signed)
        )
    next_state = {"signed": signed, "clusters": res["clusters"]}
    for table in pairs:
        delta = res[table + "_new"]
        next_state[table] = (
            compose_pair_state(
                prior[table], delta, res["resigned_prior_ids"], *_PAIR_ENDS[table]
            )
            if prior
            else delta
        )
    return res, next_state
