"""Spark stderr taxonomy and the paired-cycle scaling estimator.

``classify_stderr`` labels a captured Spark stderr file by error class
(perfbench reports it per run; ``tools/submit_scaling.py`` per leg).
``paired_best`` is the capability estimate ``tools/submit_scaling.py``
takes over paired N -> 4N cycles.
"""

from __future__ import annotations

import re

#: (category, regex) — counted per captured stderr; "none" when all zero
ERROR_TAXONOMY = [
    ("task_retry", r"TaskSetManager: Lost task|Lost task \d+\.\d+"),
    ("oom", r"OutOfMemoryError|java\.lang\.OutOfMemory|Cannot allocate memory|MemoryError"),
    ("fetch_failure", r"FetchFailed"),
    ("executor_lost", r"ExecutorLostFailure|Executor .* lost"),
    ("python_worker", r"Python worker exited unexpectedly"),
    ("dag_stack", r"at org\.apache\.spark\.scheduler\.DAGScheduler"),
    ("cancelled", r"Job \d+ cancelled|TaskKilled"),
    # benign but visible: a stopped session's Python accumulator server
    # logging its shutdown race — the class of the unexplained r3 fragment
    ("shutdown_noise", r"EOF reached before Python server acknowledged"),
]


def classify_stderr(path: str) -> str:
    """Scan a captured stderr file against the taxonomy -> 'none' or
    'cat:count,...' (the per-leg errors column)."""
    try:
        text = open(path, errors="replace").read()
    except OSError:
        return "unreadable"
    found = []
    for name, pat in ERROR_TAXONOMY:
        n = len(re.findall(pat, text))
        if n:
            found.append(f"{name}:{n}")
    return ",".join(found) if found else "none"


PHASE_FLIP_TOL = 1.05  # paired-cycle ceiling before it reads as a mid-leg
#                        phase flip rather than scaling


def paired_best(cycles: list) -> float | None:
    """Capability estimate from paired cycles.  The paired estimator
    assumes both legs of a cycle share one host throttle phase; a cycle
    measuring above PHASE_FLIP_TOL broke that assumption mid-leg (the lo
    leg throttled while the hi leg ran clean — superlinear N->4N scaling
    is not physically available on one host).  Such cycles stay listed in
    paired_cycles as evidence of the flip but are excluded from the
    best-cycle capability claim."""
    ok = [c for c in cycles if c <= PHASE_FLIP_TOL]
    return max(ok) if ok else None
