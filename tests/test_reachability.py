"""Guard: every module of the package serves the dedup system.

The system's entry points are the batch pipeline, the delta fold, the
stream, the spark-submit job, the benchmark and the measurement tools.
Following their imports (module level and inside functions) must reach
every module under ``bibexpy_spark/`` except the test references, every
function a reference defines must be named by some test, every top-level
function or class of a reached module must be named by reached code
outside its own definition, and every ``DedupConfig`` field must be read
by a reached module other than ``config.py``.  Code or an option that nothing reaches fails here instead
of lingering.
"""

from __future__ import annotations

import ast
import dataclasses
import re
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
        if f not in reached and f not in REFERENCES
    )
    assert not unreached, f"modules no entry point imports: {unreached}"


def _uncompared(ref: Path, test_names: set[str]) -> list[str]:
    """Top-level functions of ``ref`` that no test names, directly or through
    another function of ``ref`` that a test names."""
    defs = {
        node.name: node for node in ast.parse(ref.read_text()).body
        if isinstance(node, ast.FunctionDef)
    }
    todo = [name for name in defs if name in test_names]
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += [n.id for n in ast.walk(defs[name])
                     if isinstance(n, ast.Name) and n.id in defs]
    return sorted(defs.keys() - seen)


def test_every_reference_function_is_compared():
    # a reference whose comparison is gone outlives its kernel unnoticed
    test_names = {
        word for f in (ROOT / "tests").glob("*.py") if f.name != Path(__file__).name
        for word in re.findall(r"\w+", f.read_text())
    }
    uncompared = sorted(
        f"{ref.relative_to(ROOT)}:{name}"
        for ref in REFERENCES for name in _uncompared(ref, test_names)
    )
    assert not uncompared, f"reference functions no test compares: {uncompared}"


# top-level names only tests call, each with the reason it stays
TEST_ONLY = {
    # the path of a generated scale-factor corpus, a plan-test fixture
    "corpus_path_for_sf",
    # the driver-side spec of the JVM ``sha2`` content_sha column, which
    # the golden tests compare both against
    "content_sha256",
    # the brute-force containment oracle the pass is compared against
    "containment_pairs",
}


def _references(tree: ast.AST, local: bool) -> set[str]:
    """Names code refers to: attributes and imported names, plus bare names
    when ``local`` (the code shares the definer's module).  A docstring word,
    a keyword argument or another module's local variable is no reference."""
    out: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and local:
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def test_every_function_is_used_by_the_system():
    # a function kept alive by tests alone is dead code with a test
    trees = {f: ast.parse(f.read_text()) for f in _reached()}
    unused = []
    for f in sorted(trees.keys() - REFERENCES - set(ENTRY_POINTS)):
        body = trees[f].body
        used = set().union(*(_references(t, False) for g, t in trees.items() if g != f))
        for node in body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            # other code of the same module counts, the definition does not
            here = set().union(*(_references(o, True) for o in body if o is not node))
            if node.name not in TEST_ONLY | used | here:
                unused.append(f"{f.relative_to(ROOT)}:{node.name}")
    assert not unused, f"functions only tests name: {unused}"


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
