"""Streaming incremental dedup: a micro-batch feed of conversation deltas
folded into the clustered-corpus state via ``foreachBatch``.

Contract (the same one the batch delta mode has): each micro-batch delivers
WHOLE conversations — the natural shape of a periodic export drop (one file
per day/hour of completed conversations).  Every batch runs the exact
``run_incremental_dedup`` operator against the persisted state (signed
signatures + cluster assignments) and commits the new state with one
manifest, so a chain of micro-batches starting from empty state equals one
batch run over the concatenation (batch equivalence by induction — tested
with a maxFilesPerTrigger=1 stream against the full-batch pipeline).

Micro-batches may GROW conversations from earlier batches (append turns to
an open conv_id): the handler keeps the ingested turn rows as state and
passes them as ``prior_turns``, so ``run_incremental_dedup`` retracts and
re-signs grown conversations (latest-wins on (conv_id, turn_idx)) instead
of corrupting the state with duplicate conv_id rows.

State under ``state_dir``, committed per batch by ``incremental.write_state``
(``_state/<n>.json`` names the tables of generation n under ``gen/``):
    signed · clusters · containment_prefix · containment_pairs ·
    simhash_pairs
               the delta state: the handler reads it once per batch with
               ``incremental.read_state`` and ``incremental.fold_state``
               composes it (the same layout every submit-job output has; a
               pair table is present only when its pass is on, and a
               restart with a pass whose table is missing fails the batch
               before anything is written)
    turns      ingested turn rows (latest-wins on (conv_id, turn_idx)) —
               the prior_turns source for grown-conversation re-signing
    remaps     batch_id, old_cluster_id, cluster_id: every committed
               batch's remap rows, once each
The manifest also records the batch id and the checkpoint's query id: a
checkpoint replay of a batch the manifest already holds is skipped, and a
crash before the manifest leaves the previous state for the replay to fold
into again.  ``_ckpt`` is the stream checkpoint.

At 10^12-turn scale the state tables are Iceberg tables and the manifest is
a snapshot commit; the parquet generations are this sandbox's stand-in.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bibexpy_spark.config import CANONICAL, DedupConfig
from bibexpy_spark.incremental import (
    fold_state,
    merge_turns_latest_wins,
    read_manifest,
    read_state,
    write_state,
)

TURN_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _check_ckpt_identity(state_dir: str, manifest: dict[str, Any] | None) -> str | None:
    """The query id of the stream checkpoint (None before it exists);
    raises ValueError when the last commit recorded a DIFFERENT one.

    Spark's checkpoint metadata carries a query id minted at the
    checkpoint's first start and stable across restarts; a reset/replaced
    _ckpt gets a new id AND restarts batch numbering at 0, so the batch id
    in the manifest would silently skip genuinely new batches.
    """
    meta = os.path.join(state_dir, "_ckpt", "metadata")
    if not os.path.exists(meta):
        return None  # checkpoint not materialized yet
    try:
        qid = json.load(open(meta)).get("id")
    except (OSError, ValueError):
        return None  # unreadable metadata: Spark itself will fail the query
    recorded = (manifest or {}).get("ckpt_id")
    if recorded and qid and recorded != qid:
        raise ValueError(
            f"state dir {state_dir!r}: its state was committed under "
            f"checkpoint query id {recorded}, but the current _ckpt has id "
            f"{qid} — the checkpoint was reset or replaced while the state "
            "was kept, so batch numbering restarted and replays can no "
            "longer be told from new batches.  Restore the original "
            "checkpoint, or stream into a fresh state dir."
        )
    return qid


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
    ``incremental.fold_state``, which each batch calls on the tables of
    ``state_dir``: after any batch the pair state equals the batch pass
    over everything ingested so far, and the clustering equals a full run
    with the same edge sources."""
    # exclusive writer lease on the state dir: a second stream pointed at
    # the same state dir would share this one's _ckpt checkpoint (the
    # state commit itself refuses a second writer of a generation).  Held
    # for the driver process lifetime; a crashed holder is reclaimed by
    # pid-death/ttl on the next acquire.
    from bibexpy_spark.lineage import acquire_lease

    acquire_lease(state_dir, owner="incremental_stream")
    reader = spark.readStream.schema(TURN_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        manifest = read_manifest(spark, state_dir)
        qid = _check_ckpt_identity(state_dir, manifest)
        if batch_df.isEmpty():
            return
        # a checkpoint replay of a batch whose state already committed is a
        # no-op — re-running it would re-sign rows already in the state and
        # duplicate its remap rows.  Spark replays only the batch after its
        # last logged commit, so an id at or below the recorded one under
        # the same checkpoint is such a replay.
        if manifest and qid and manifest.get("ckpt_id") == qid \
                and batch_id <= manifest["batch_id"]:
            return
        if manifest is None and os.path.exists(os.path.join(state_dir, "signed")):
            raise ValueError(f"state dir {state_dir!r} has signed/ but no manifest")
        prior = read_state(spark, state_dir) if manifest else {}
        if prior and "turns" not in prior:
            # refuse loudly rather than seed turns from this batch alone (a
            # submit job's --output has none): a PARTIAL turns state would
            # later let a grown conversation from before the gap re-sign
            # over an incomplete turn set without tripping
            # run_incremental_dedup's no-prior-turns guard
            raise ValueError(
                f"state dir {state_dir!r} has signed but no turns table — "
                "commit the complete prior turn set as turns before "
                "streaming (grown-conversation contract; seeding from one "
                "batch would silently re-sign grown conversations over an "
                "incomplete turn set)"
            )
        prior_t = prior.get("turns")
        res, next_state = fold_state(
            spark, batch_df, prior or None, cfg=cfg,
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
            remaps = res["cluster_remap"].withColumn("batch_id", F.lit(batch_id))
            next_state["remaps"] = (
                prior["remaps"].unionByName(remaps) if "remaps" in prior else remaps
            )
            # every table is written while the prior generation is still
            # readable (their lineage reads it); the manifest then commits
            # them together with this batch's id
            write_state(state_dir, next_state, batch_id=batch_id, ckpt_id=qid)
        finally:
            # release the run's persisted frames even when the write
            # raises — a foreachBatch retry would otherwise stack a fresh
            # persisted set per attempt
            res["cleanup"]()

    return (
        stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(state_dir, "_ckpt"))
        .start()
    )
