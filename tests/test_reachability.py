"""Guard: every module of the package serves the dedup system.

The system's entry points are the batch pipeline, the delta fold, the
stream, the spark-submit job, the benchmark and the measurement tools.
Following their imports (module level and inside functions) must reach
every module under ``bibexpy_spark/`` except the test references and the
code listed as pending removal, no entry point may reach that pending code,
and every ``DedupConfig`` field must be read by a reached module other than
``config.py``.  Code or an option that nothing reaches fails here instead
of lingering.
"""

from __future__ import annotations

import ast
import dataclasses
from pathlib import Path

from bibexpy_spark.config import DedupConfig

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "bibexpy_spark"

ENTRY_POINTS = [
    PKG / "pipeline.py",
    PKG / "incremental.py",
    PKG / "streaming" / "incremental_stream.py",
    ROOT / "jobs" / "dedup_job.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    ROOT / "tools" / "submit_scaling.py",
    ROOT / "tools" / "host_baseline.py",
    ROOT / "tools" / "skew_stress.py",
    ROOT / "tools" / "compare_reference.py",
]

# references the tests compare the engine against, not part of the system:
# golden.py (independent kernel reimplementations, test_golden_independent)
# and plans/ (plan-shape helpers, test_plan_properties)
REFERENCES = {
    PKG / "golden.py",
    PKG / "plans" / "__init__.py",
    PKG / "plans" / "inspect.py",
}

# bibliographic code that only the removed 50-query contract called; it
# goes together with its own tests (ROADMAP item 4(b)).  The list may only
# shrink: an entry whose file is gone must leave it.
PENDING = {
    PKG / "functions" / "bibex_norms.py",
}


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _imported_files(path: Path) -> set[Path]:
    """Repository files imported anywhere in ``path`` (lazy imports included),
    plus the ``__init__.py`` of every package on the way to them."""
    names: list[str] = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names += [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.append(node.module)
            names += [f"{node.module}.{alias.name}" for alias in node.names]
    out: set[Path] = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            f = _module_file(".".join(parts[:i]))
            if f is not None:
                out.add(f)
    return out


def _reached() -> set[Path]:
    seen: set[Path] = set()
    # an entry point inside the package is imported through its package,
    # so its __init__.py is reached even when no import names it
    todo = [*ENTRY_POINTS, *(f.parent / "__init__.py" for f in ENTRY_POINTS
                             if (f.parent / "__init__.py").is_file())]
    while todo:
        f = todo.pop()
        if f in seen:
            continue
        seen.add(f)
        todo += _imported_files(f) - seen
    return seen


def test_every_package_module_is_reached():
    reached = _reached()
    unreached = sorted(
        str(f.relative_to(ROOT)) for f in PKG.rglob("*.py")
        if f not in reached and f not in REFERENCES | PENDING
    )
    assert not unreached, f"modules no entry point imports: {unreached}"


def test_pending_removal_stays_unreached():
    reached = _reached()
    used = sorted(str(f.relative_to(ROOT)) for f in PENDING & reached)
    assert not used, f"entry points import code pending removal: {used}"
    gone = sorted(str(f.relative_to(ROOT)) for f in PENDING if not f.is_file())
    assert not gone, f"deleted modules still listed as pending: {gone}"


def test_every_config_field_is_read():
    read: set[str] = set()
    for f in _reached():
        if f.is_relative_to(PKG) and f.name != "config.py":
            read |= {
                node.attr for node in ast.walk(ast.parse(f.read_text()))
                if isinstance(node, ast.Attribute)
            }
    unread = [
        fld.name for fld in dataclasses.fields(DedupConfig) if fld.name not in read
    ]
    assert not unread, f"DedupConfig fields no reached module reads: {unread}"
