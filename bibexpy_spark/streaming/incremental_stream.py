"""Streaming incremental dedup: a micro-batch feed of conversation deltas
folded into the clustered-corpus state via ``foreachBatch``.

Contract (the same one the batch delta mode has): each micro-batch delivers
WHOLE conversations — the natural shape of a periodic export drop (one file
per day/hour of completed conversations).  Every batch runs the exact
``run_incremental_dedup`` operator against the persisted state (signed
signatures + cluster assignments) and atomically swaps the new state in, so
a chain of micro-batches starting from empty state equals one batch run
over the concatenation (batch equivalence by induction — tested with a
maxFilesPerTrigger=1 stream against the full-batch pipeline).

Micro-batches may GROW conversations from earlier batches (append turns to
an open conv_id): the handler keeps the ingested turn rows as state and
passes them as ``prior_turns``, so ``run_incremental_dedup`` retracts and
re-signs grown conversations (latest-wins on (conv_id, turn_idx)) instead
of corrupting the state with duplicate conv_id rows.

State layout under ``state_dir``:
    signed/ · clusters/ · containment_prefix/ · containment_pairs/ ·
    simhash_pairs/
               the delta state, read and composed by
               ``incremental.fold_state`` (the same layout every submit-job
               output has; a pair table is present only when its pass is on,
               and a restart with a pass whose table is missing fails the
               batch before anything is staged)
    turns/     ingested turn rows (latest-wins on (conv_id, turn_idx)) —
               the prior_turns source for grown-conversation re-signing
    remaps/    batch_id, old_cluster_id, cluster_id         (append-only audit)
    _committed/<batch_id>  marker files — a batch with a marker is skipped on
               checkpoint replay (the swap already committed)
    _swap_intent  write-ahead intent for the multi-table swap: written only
               after every staged tmp is fully on disk, removed after the
               last commit — a crash in between is rolled FORWARD by
               recover_pending_swap, so replays never see mixed state

At 10^12-turn scale the state tables are Iceberg tables and the swap is a
snapshot commit; the parquet tmp-dir swap below is this sandbox's stand-in
(same pattern as lineage.RunContext.materialize).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bibexpy_spark.config import CANONICAL, DedupConfig
from bibexpy_spark.incremental import fold_state, merge_turns_latest_wins

TURN_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _stage(df: DataFrame, path: str) -> str:
    """Materialize to a tmp dir while the live state is still readable."""
    tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    return tmp


def _commit(path: str) -> None:
    """Replace the live dir with its staged tmp (state is only ever visible
    complete — the Iceberg-snapshot-commit stand-in)."""
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(path + ".tmp", path)


def recover_pending_swap(state_dir: str) -> bool:
    """Roll FORWARD a multi-table swap whose intent marker exists.

    The intent file is written (atomically, tmp + os.replace) only after
    EVERY staged tmp dir of the batch is fully materialized, so completing
    the swap is always safe: any listed path whose ``.tmp`` still exists is
    committed (a missing tmp means that table's os.replace already ran),
    the staged remap delta is folded, the batch's committed marker is
    written, and the intent is removed last.  It is the one commit path: a
    batch calls it right after writing its intent, and it is idempotent —
    called again on stream start and before every batch, it closes the
    crash window between the individual table commits: state is never left
    mixed old/new for a checkpoint replay to compute against (ADVICE r3
    follow-up; a crash BEFORE the intent write simply discards the tmps and
    the replay recomputes the batch against the untouched prior state).

    Returns True when a pending swap was completed.
    """
    intent = os.path.join(state_dir, "_swap_intent")
    if not os.path.exists(intent):
        return False
    with open(intent) as fh:
        info = json.load(fh)
    batch_id = info["batch_id"]
    for path in info["paths"]:
        if os.path.exists(path + ".tmp"):
            _commit(path)
    # fold the staged remap delta into the flat append-only audit dir under
    # batch-unique names (replays overwrite, never duplicate)
    remap_tmp = os.path.join(state_dir, f"_remap_delta_{batch_id}")
    if os.path.exists(remap_tmp):
        remaps_p = os.path.join(state_dir, "remaps")
        os.makedirs(remaps_p, exist_ok=True)
        for fn in sorted(os.listdir(remap_tmp)):
            if fn.endswith(".parquet"):
                os.replace(
                    os.path.join(remap_tmp, fn),
                    os.path.join(remaps_p, f"batch{batch_id}-{fn}"),
                )
        shutil.rmtree(remap_tmp)
    marker_dir = os.path.join(state_dir, "_committed")
    os.makedirs(marker_dir, exist_ok=True)
    open(os.path.join(marker_dir, str(batch_id)), "w").close()
    os.remove(intent)
    return True


def _write_intent(state_dir: str, batch_id: int, paths: list[str]) -> None:
    """Atomically publish the swap intent (see recover_pending_swap)."""
    intent = os.path.join(state_dir, "_swap_intent")
    with open(intent + ".tmp", "w") as fh:
        json.dump({"batch_id": batch_id, "paths": paths}, fh)
    os.replace(intent + ".tmp", intent)


def _check_ckpt_identity(state_dir: str, marker_dir: str) -> None:
    """Refuse to run against _committed markers from a DIFFERENT checkpoint.

    Spark's checkpoint metadata carries a query id minted at the
    checkpoint's first start and stable across restarts; a reset/replaced
    _ckpt gets a new id AND restarts batch numbering at 0, so the old
    markers would silently skip genuinely new batches.  The first batch
    records the id; later batches must match it.
    """
    meta = os.path.join(state_dir, "_ckpt", "metadata")
    if not os.path.exists(meta):
        return  # checkpoint not materialized yet (or custom location)
    try:
        qid = json.load(open(meta)).get("id")
    except (OSError, ValueError):
        return  # unreadable metadata: Spark itself will fail the query
    if not qid:
        return
    rec = os.path.join(marker_dir, "_ckpt_id")
    if os.path.exists(rec):
        recorded = open(rec).read().strip()
        if recorded != qid:
            raise ValueError(
                f"state dir {state_dir!r}: _committed markers were written "
                f"under checkpoint query id {recorded}, but the current "
                f"_ckpt has id {qid} — the checkpoint was reset or replaced "
                "while the state tables were kept, so batch numbering "
                "restarted and the stale markers would silently skip new "
                "batches.  Restore the original checkpoint, or (after "
                "verifying the state tables cover everything already "
                "ingested) delete the _committed dir to start a fresh "
                "marker lineage."
            )
    else:
        os.makedirs(marker_dir, exist_ok=True)
        with open(rec + ".tmp", "w") as fh:
            fh.write(qid)
        os.replace(rec + ".tmp", rec)


def foreach_batch_incremental_dedup(
    spark: SparkSession,
    source_path: str,
    state_dir: str,
    cfg: DedupConfig = CANONICAL,
    max_files_per_trigger: int | None = None,
    with_containment: bool = False,
    with_simhash_pass: bool = False,
    containment_mode: str = "prefix",
    extra_cluster_edges: tuple[str, ...] = (),
):
    """Start the delta-folding stream over the turn parquet files appended
    to ``source_path`` (``TURN_SCHEMA``); returns the StreamingQuery.

    ``max_files_per_trigger=1`` gives one micro-batch per dropped file —
    the deterministic shape the equivalence test uses.

    The pass flags and ``extra_cluster_edges`` mean what they mean for
    ``incremental.fold_state``, which each batch calls on ``state_dir``:
    after any batch the pair state equals the batch pass over everything
    ingested so far, and the clustering equals a full run with the same
    edge sources."""
    # exclusive writer lease on the state dir: batch markers serialize
    # replays WITHIN one stream, but a second stream/job pointed at the
    # same state dir would interleave the multi-table swaps undetected
    # (BASELINE.md Iceberg-gap #1).  Held for the driver process lifetime;
    # a crashed holder is reclaimed by pid-death/ttl on the next acquire.
    from bibexpy_spark.lineage import acquire_lease

    acquire_lease(state_dir, owner="incremental_stream")
    reader = spark.readStream.schema(TURN_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)
    signed_p = os.path.join(state_dir, "signed")
    turns_p = os.path.join(state_dir, "turns")
    marker_dir = os.path.join(state_dir, "_committed")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # a crash mid-swap leaves an intent marker: complete that swap
        # BEFORE reading any state (it also writes the crashed batch's
        # committed marker, so its replay exits below)
        recover_pending_swap(state_dir)
        # the _committed markers are keyed by Spark batch_id, which is only
        # meaningful WITHIN one checkpoint lifetime: resetting/replacing
        # _ckpt while keeping the state tables restarts batch numbering at
        # 0, and genuinely NEW batches would silently hit stale markers and
        # be skipped (r4 review).  Bind the markers to the checkpoint's
        # query id and refuse loudly on a mismatch.
        _check_ckpt_identity(state_dir, marker_dir)
        if batch_df.isEmpty():
            return
        # idempotency marker (ADVICE r3): checkpoint replay of a batch whose
        # state swap already committed must be a no-op — re-running it would
        # re-sign rows already present in the state and duplicate remap
        # audit rows
        marker = os.path.join(marker_dir, str(batch_id))
        if os.path.exists(marker):
            return
        have_state = os.path.exists(signed_p)
        if have_state and not os.path.exists(turns_p):
            # refuse loudly rather than seed turns/ from this batch alone: a
            # PARTIAL turns state would later let a grown conversation from
            # before the gap re-sign over an incomplete turn set WITHOUT
            # tripping run_incremental_dedup's no-prior-turns guard (prior
            # turns non-None, just wrong) — silent signature corruption (r4
            # review).  A signed/ without turns/ is a pre-turn-tracking
            # layout; backfill turns/ with the full turn history first.
            raise ValueError(
                f"state dir {state_dir!r} has signed/ but no turns/ — "
                "backfill the complete prior turn set into turns/ before "
                "streaming (grown-conversation contract; seeding from one "
                "batch would silently re-sign grown conversations over an "
                "incomplete turn set)"
            )
        prior_t = spark.read.parquet(turns_p) if have_state else None
        res, next_state = fold_state(
            spark, batch_df, state_dir if have_state else None, cfg=cfg,
            prior_turns=prior_t,
            with_containment=with_containment,
            with_simhash_pass=with_simhash_pass,
            containment_mode=containment_mode,
            extra_cluster_edges=extra_cluster_edges,
        )
        try:
            next_state["turns"] = (
                batch_df if prior_t is None
                else merge_turns_latest_wins(prior_t, batch_df)
            )
            # STAGE every output (remap delta included) while the prior state
            # dirs are still readable — their lineage reads those parquets —
            # THEN commit all swaps together and drop the marker last, so a
            # crash at any point either replays the whole batch or skips it
            swap_paths = [os.path.join(state_dir, name) for name in next_state]
            for path, df in zip(swap_paths, next_state.values()):
                _stage(df, path)
            remap_tmp = os.path.join(state_dir, f"_remap_delta_{batch_id}")
            res["cluster_remap"].withColumn("batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).parquet(remap_tmp)
            # every tmp is now fully on disk: publish the write-ahead intent,
            # THEN swap through the same roll-forward a restart runs, so a
            # crash anywhere before the intent removal completes the same
            # way and the state can never be read mixed old/new by a replay
            _write_intent(state_dir, batch_id, swap_paths)
            recover_pending_swap(state_dir)
        finally:
            # release the run's persisted frames even when staging or
            # commit raises — a foreachBatch retry would otherwise stack
            # a fresh persisted set per attempt (r4 review)
            res["cleanup"]()

    # complete any swap a previous process crashed in the middle of before
    # the restarted stream reads state or replays the batch
    recover_pending_swap(state_dir)
    return (
        stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(state_dir, "_ckpt"))
        .start()
    )
