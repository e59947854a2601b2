"""Per-layer tracing from the benchmark's side of the program boundary.

``TracingRunContext`` opens a span around each ``materialize(stage, build)``
call the pipeline makes, and records the highest Spark stage id seen at the
span's start and end.  ``StageLedger`` reads the task metrics of every stage
in such an id range from Spark's status store, which is populated with the
UI off.  ``RssSampler`` follows the memory of the JVM and its Python
workers through ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

from bibexpy_spark.lineage import RunContext

#: pipeline stage -> benchmark layer (named after the program's modules)
STAGE_LAYER = {
    "assemble": "assembly",
    "sign": "udfs",
    "exact_edges": "exact",
    "candidates": "lsh",
    "verify": "verify",
    "contain_prefix": "containment",
    "fuzzy": "simhash",
    "cluster": "components",
}

#: status-store stage totals -> per-layer metric suffix
STAGE_TOTALS = ("shuffle_write_mb", "shuffle_read_mb", "executor_cpu_s", "gc_s", "failed_tasks")


@dataclass
class Span:
    name: str
    parent: str
    start: float
    end: float
    first_stage: int  # exclusive: highest stage id before the span began
    last_stage: int   # inclusive: highest stage id when the span ended

    @property
    def seconds(self) -> float:
        return self.end - self.start


class StageLedger:
    """Stage ids and task-metric totals from the driver's status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._jvm = sc._gateway.jvm

    def _stages(self):
        # the status listener runs on the async listener bus: drain it so
        # the store holds every stage of the jobs that have returned
        self._sc.listenerBus().waitUntilEmpty()
        empty = self._jvm.java.util.ArrayList()
        quantiles = getattr(self._store, "stageList$default$4")()
        # newest first: the store iterates its stage index in reverse
        return self._store.stageList(empty, False, False, quantiles, empty)

    def last_stage_id(self) -> int:
        stages = self._stages()
        return stages.head().stageId() if stages.nonEmpty() else -1

    def totals(self, first: int, last: int) -> dict[str, float]:
        """Summed metrics of the stages with first < id <= last."""
        out = dict.fromkeys(STAGE_TOTALS, 0.0)
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= first:
                break
            if sid > last:
                continue
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["failed_tasks"] += s.numFailedTasks()
        return out


@dataclass
class TracingRunContext(RunContext):
    """RunContext that records one span per pipeline stage."""

    ledger: StageLedger | None = None
    spans: list[Span] = field(default_factory=list)

    def materialize(self, stage, build, repartition=None):
        first = self.ledger.last_stage_id()
        t0 = time.perf_counter()
        try:
            return super().materialize(stage, build, repartition)
        finally:
            t1 = time.perf_counter()
            self.spans.append(
                Span(stage, "pass", t0, t1, first, self.ledger.last_stage_id())
            )


def proc_tree(root: int) -> dict[int, int]:
    """Resident KiB of ``root`` and each of its descendants, by pid."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue  # process ended while scanning
        pid = int(name)
        children.setdefault(int(fields["PPid"]), []).append(pid)
        rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0])
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return tree


class RssSampler:
    """Background sampler of the peak resident memory of a process tree."""

    def __init__(self, root_pid: int, interval_s: float = 0.5) -> None:
        self._root = root_pid
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_kb = 0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(proc_tree(self._root).values()))
            self._stop.wait(self._interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
