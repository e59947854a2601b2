"""Run folders, per-stage checkpoints, metrics — the resume layer.

The reference materializes every run as an *analysis folder* with meta.json,
per-run artifacts and an append-only operations log (analyses.py:58-101,
audit.py:1-9), and skips work when outputs are fresher than inputs
(converter.py:103-111 ``_fresh``).  Here:

  * a **run** is a directory ``<warehouse>/<run_id>/`` of per-stage parquet
    tables (the Iceberg-table contract; parquet fallback since no Iceberg
    runtime jar ships in this sandbox — the layout maps 1:1 onto
    ``catalog.db.<stage>`` tables with snapshot pinning);
  * each completed stage writes a **manifest** ``<stage>.manifest.json``
    carrying (run_id, stage, config_hash, input_token, rows, wall_s);
  * on relaunch, a stage whose manifest matches (config_hash, input_token)
    is SKIPPED and its table is read back — resume without recomputation
    (north rule), recorded as ``skipped=true`` in metrics;
  * every stage appends a row to ``metrics.jsonl`` (append-only audit).

:func:`materialize_stage` is the seam for callers that run with or without
a RunContext: with one it checkpoints through ``RunContext.materialize``;
without one it cuts the lineage in memory (``localCheckpoint``).  Either
way the stage is computed once, and its row count and any extra counters
ride the materializing action as an ``Observation``.  A counter is either
an aliased aggregate Column over the stage's rows, or a :class:`Counters`
observation the build attached to a frame inside the stage's plan.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections.abc import Sequence
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import unquote

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bibexpy_spark.config import DedupConfig


def local_path(p: str) -> str:
    """The local path a ``file:`` URI names (``file:/x`` or ``file:///x``,
    percent-escapes decoded, the form ``DataFrame.inputFiles()`` lists);
    any other string unchanged."""
    m = re.match(r"file:/+", p)
    return "/" + unquote(p[m.end():]) if m else p


def input_token_for_paths(*paths: str, content_hash: bool = False) -> str:
    """Input fingerprint — the parquet stand-in for an Iceberg snapshot id.

    Default mode is the cheap (path, size, mtime) triple per file.  With
    ``content_hash=True`` the token hashes the file CONTENT instead
    (streamed sha256) — closing the staleness gap mtime cannot see (a file
    rewritten with identical size and a restored mtime still changes the
    token, exactly as a new Iceberg snapshot id would).  Content mode costs
    one read of the inputs; use it where correctness of resume matters more
    than token cost (an Iceberg runtime would give this for free via
    snapshot ids — no jar ships in this sandbox, probed r3).
    """
    import hashlib

    def _file_part(fp: str) -> str:
        st = os.stat(fp)
        if not content_hash:
            return f"{fp}:{st.st_size}:{int(st.st_mtime)}"
        h = hashlib.sha256()
        with open(fp, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        return f"{fp}:{st.st_size}:{h.hexdigest()}"

    parts = []
    for p in sorted(map(local_path, paths)):
        if os.path.isdir(p):
            # recursive walk: a PARTITIONED table (key=val/ subdirs) must
            # token its leaf files — the one-level listdir this replaced
            # stat'ed the subdirectory itself, so an in-place rewrite deep
            # in a partition could keep the token (dir size + often mtime
            # unchanged), and content mode crashed on the directory open
            for dirpath, dirs, files in os.walk(p):
                dirs.sort()
                for f in sorted(files):
                    parts.append(_file_part(os.path.join(dirpath, f)))
        elif os.path.exists(p):
            parts.append(_file_part(p))
        else:
            parts.append(f"{p}:missing")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


class StateLeaseError(RuntimeError):
    """Another live process holds the writer lease on a run/state dir."""


LEASE_FILENAME = ".writer.lease"
# a lease lapses after this long even while its pid looks alive (the
# cross-host fallback of the pid check); a holder's recorded ttl_s wins
LEASE_TTL_S = 6 * 3600.0


def _pid_alive(pid) -> bool:
    if not isinstance(pid, int) or pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, other user
    return True


def acquire_lease(dir_path: str, owner: str = "") -> None:
    """Advisory exclusive WRITER lease on a run/state directory.

    The state commit detects a second writer by itself: of two writers of
    generation n, the second one's rename to ``_state/<n>.json`` fails
    (``write_state``).  Two writes have no such check (real Iceberg CASes
    the table pointer and retries; BASELINE.md gap table #1): a
    ``RunContext``'s ``os.replace`` stage swaps in its run dir, and the
    stream's ``_ckpt`` checkpoint in its state dir.  Two jobs pointed at one
    such dir would interleave them with no detection.  This lease guards
    those two the way the reference does — per-project job exclusivity
    (apps/api/jobs/runner.py:145-151 refuses a second run while one is
    active).  The first writer records (pid, acquired_at, ttl_s, owner) in
    ``.writer.lease``; a second concurrent writer gets a loud
    StateLeaseError.  A crashed holder is reclaimed once its pid is dead
    (same-host check — this sandbox is single-host; on a real cluster the
    ttl is the cross-host fallback) or its ttl (``LEASE_TTL_S``) expired.
    Same-pid re-acquisition is a no-op: one process may legitimately layer
    several RunContexts over a dir sequentially.
    """
    os.makedirs(dir_path, exist_ok=True)
    path = os.path.join(dir_path, LEASE_FILENAME)
    payload = {
        "pid": os.getpid(),
        "acquired_at": time.time(),
        "ttl_s": LEASE_TTL_S,
        "owner": owner,
    }
    for _attempt in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                cur = json.load(open(path))
            except (OSError, json.JSONDecodeError):
                cur = {}  # torn write or vanished: treat as stale
            if cur.get("pid") == os.getpid():
                return  # re-entrant
            expired = (
                time.time() - cur.get("acquired_at", 0.0)
                > cur.get("ttl_s", LEASE_TTL_S)
            )
            if _pid_alive(cur.get("pid")) and not expired:
                raise StateLeaseError(
                    f"state dir {dir_path!r} is held by a LIVE writer "
                    f"(pid {cur.get('pid')}, owner {cur.get('owner') or '?'}, "
                    f"acquired {round(time.time() - cur.get('acquired_at', 0))}s "
                    "ago): refusing to run a second job against the same "
                    "run/state directory — concurrent writers would "
                    "interleave state swaps undetected.  Point this job at "
                    "a fresh directory, or remove the stale "
                    f"{LEASE_FILENAME} if you are certain no job is running."
                )
            try:
                os.unlink(path)  # stale: reclaim and retry the O_EXCL create
            except FileNotFoundError:
                pass
            continue
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        return
    raise StateLeaseError(
        f"could not acquire lease at {path}: another writer kept winning "
        "the reclaim race"
    )


def release_lease(dir_path: str) -> None:
    """Release the lease iff THIS process holds it (crash-safe: a dead
    holder's file is reclaimed by the next acquire via the pid check)."""
    path = os.path.join(dir_path, LEASE_FILENAME)
    try:
        if json.load(open(path)).get("pid") != os.getpid():
            return
    except (OSError, json.JSONDecodeError):
        return
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


@dataclass
class RunContext:
    """One pipeline run: stage tables + manifests + metrics under one dir.

    Construction acquires the exclusive writer lease on the run dir (see
    acquire_lease) and releases it at garbage collection / process exit;
    a second concurrent job on the same (warehouse, run_id) refuses
    loudly instead of corrupting checkpoints."""

    spark: SparkSession
    cfg: DedupConfig
    warehouse: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    input_token: str = ""
    metrics: list[dict[str, Any]] = field(default_factory=list)
    #: stage -> {"rows": n, **observed counters}, for built and skipped stages
    counts: dict[str, dict[str, int]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        import weakref

        acquire_lease(self.run_dir, owner=f"RunContext:{self.run_id}")
        self._lease_finalizer = weakref.finalize(
            self, release_lease, self.run_dir
        )

    def close(self) -> None:
        """Release the writer lease explicitly (also runs at GC/exit)."""
        self._lease_finalizer()

    @property
    def run_dir(self) -> str:
        return os.path.join(self.warehouse, self.run_id)

    def _table_path(self, stage: str) -> str:
        return os.path.join(self.run_dir, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.run_dir, f"{stage}.manifest.json")

    def stage_fresh(self, stage: str) -> bool:
        mp = self._manifest_path(stage)
        if not os.path.exists(mp):
            return False
        try:
            m = json.load(open(mp))
        except (json.JSONDecodeError, OSError):
            return False
        return (
            m.get("config_hash") == self.cfg.config_hash()
            and m.get("input_token") == self.input_token
            and os.path.exists(self._table_path(stage))
        )

    def materialize(
        self,
        stage: str,
        build,
        observe: Sequence[Column | Counters] = (),
    ) -> DataFrame:
        """Run ``build()`` unless a fresh checkpoint exists; return the stage
        DataFrame read back from its table (so downstream lineage starts at
        the checkpoint, truncating the DAG).

        The row count and the ``observe`` counters (module docstring) ride
        the WRITE job — one job per stage, no re-scan — and are kept in the
        manifest, so a skipped stage reports them in ``counts`` without
        recomputing anything (its Counters never fire)."""
        t0 = time.time()
        path = self._table_path(stage)
        if self.stage_fresh(stage):
            df = self.spark.read.parquet(path)
            m = json.load(open(self._manifest_path(stage)))
            self.counts[stage] = {"rows": m.get("rows"), **m.get("observed", {})}
            self._log(stage, rows=m.get("rows"), wall_s=time.time() - t0, skipped=True)
            return df
        tmp = path + ".tmp"
        df, read = _observed(build(), stage, observe)
        df.write.mode("overwrite").parquet(tmp)
        observed = read()
        rows = observed.pop("rows")
        # atomic-ish replace: stage tables are only visible once complete.
        # The previous manifest goes first, so a crash before the new one is
        # written never leaves it vouching for the new table
        try:
            os.remove(self._manifest_path(stage))
        except FileNotFoundError:
            pass
        if os.path.exists(path):
            import shutil

            shutil.rmtree(path)
        os.replace(tmp, path)
        out = self.spark.read.parquet(path)
        self.counts[stage] = {"rows": rows, **observed}
        self._write_manifest(stage, rows, time.time() - t0, observed)
        self._log(stage, rows=rows, wall_s=time.time() - t0, skipped=False, **observed)
        return out

    def _partition_lineage(self, stage: str) -> list[dict[str, Any]]:
        """Per-partition lineage of the written stage table (north rule:
        'every stage writes per-partition lineage'): one entry per output
        part-file with its size — the Iceberg-manifest-entry analogue in the
        parquet fallback (Iceberg proper records the same per-data-file
        stats in its manifests)."""
        path = self._table_path(stage)
        out = []
        try:
            for fn in sorted(os.listdir(path)):
                if fn.startswith("part-"):
                    out.append(
                        {"file": fn, "bytes": os.path.getsize(os.path.join(path, fn))}
                    )
        except OSError:
            pass
        return out

    def _write_manifest(
        self, stage: str, rows: int, wall_s: float, observed: dict[str, int]
    ) -> None:
        os.makedirs(self.run_dir, exist_ok=True)
        manifest = {
            "run_id": self.run_id,
            "stage": stage,
            "config_hash": self.cfg.config_hash(),
            "input_token": self.input_token,
            "rows": rows,
            "observed": observed,
            "wall_s": round(wall_s, 3),
            "completed_at": time.time(),
            "partitions": self._partition_lineage(stage),
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(stage))

    def _log(self, stage: str, **kv: Any) -> None:
        row = {"run_id": self.run_id, "stage": stage, "ts": time.time(), **kv}
        self.metrics.append(row)
        os.makedirs(self.run_dir, exist_ok=True)
        with open(os.path.join(self.run_dir, "metrics.jsonl"), "a") as f:
            f.write(json.dumps(row) + "\n")


class Counters(Observation):
    """An Observation of the metrics ``names`` that a stage's build attaches
    to a frame inside the stage's plan.  Adaptive execution drops that frame
    from the executed plan when a join side it feeds turns out empty, and
    then nothing is observed: the counters, which count that empty side,
    read 0.  A build whose counters need not be 0 then sets ``recount``, a
    one-row frame of the same metrics, which is read instead (one extra
    job, taken only when the frame was dropped)."""

    def __init__(self, *names: str) -> None:
        super().__init__()
        self.names = names
        self.recount: DataFrame | None = None

    @property
    def get(self) -> dict[str, Any]:
        try:
            return super().get
        except Py4JJavaError:  # dropped frame: an empty observed row
            if self.recount is not None:
                return self.recount.first().asDict()
            return dict.fromkeys(self.names, 0)


def _observed(
    df: DataFrame, stage: str, observe: Sequence[Column | Counters]
) -> tuple[DataFrame, Any]:
    """``df`` observing its row count and the ``observe`` Columns, plus a
    reader that, after an action on it, returns ``{"rows": n, **counters}``
    (the Counters' metrics included)."""
    obs = Observation(f"stage_{stage}")
    cols = [c for c in observe if isinstance(c, Column)]
    inner = [o for o in observe if isinstance(o, Counters)]
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"), *cols)

    def read() -> dict[str, int]:
        got = dict(obs.get)
        for o in inner:
            got.update(o.get)
        return {k: int(v or 0) for k, v in got.items()}

    return df, read


def materialize_stage(
    run: RunContext | None,
    stage: str,
    build,
    *observe: Column | Counters,
) -> tuple[DataFrame, dict[str, int]]:
    """Compute ``build()`` once and return ``(frame, counts)``: ``counts``
    holds ``rows`` plus one entry per observed counter (module docstring),
    all taken on the materializing action.

    With a RunContext the stage is checkpointed through
    ``run.materialize`` (manifest, ``metrics.jsonl``, resume).  Without
    one the lineage is cut eagerly in memory, so later stages and every
    output read the stored rows instead of re-running the plan."""
    if run is not None:
        # positional: a subclass wrapping materialize (perfbench's tracing
        # context) forwards its third argument as it is
        df = run.materialize(stage, build, observe)
        return df, run.counts[stage]
    df, read = _observed(build(), stage, observe)
    df = df.localCheckpoint(eager=True)
    return df, read()


def release_checkpoint(df: DataFrame) -> None:
    """Drop the executor blocks behind a ``localCheckpoint``ed frame; the
    frame is unusable afterwards.  A no-op for any other frame."""
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
