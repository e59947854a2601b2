"""Resume-from-checkpoint tests (north rule: "resumes mid-run without
recomputation"; reference analogue: skip-if-fresh, converter.py:103-111,
and the analysis-folder lifecycle, analyses.py:58-101)."""

from __future__ import annotations

import json
import os

import pytest

from bibexpy_spark import pipeline
from bibexpy_spark.config import CANONICAL
from bibexpy_spark.lineage import RunContext, input_token_for_paths


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")


def _metrics(run: RunContext) -> list[dict]:
    path = os.path.join(run.run_dir, "metrics.jsonl")
    with open(path) as f:
        return [json.loads(line) for line in f]


def test_full_run_then_resume_skips_all_stages(spark, turns_df, warehouse, golden):
    run1 = RunContext(spark, CANONICAL, warehouse, run_id="runA", input_token="tok1")
    res1 = pipeline.run_dedup(spark, turns_df, CANONICAL, run=run1)
    clusters1 = res1["clusters"].toPandas().sort_values("conv_id").reset_index(drop=True)

    # relaunch with the same run_id + same config + same input token
    run2 = RunContext(spark, CANONICAL, warehouse, run_id="runA", input_token="tok1")
    res2 = pipeline.run_dedup(spark, turns_df, CANONICAL, run=run2)
    clusters2 = res2["clusters"].toPandas().sort_values("conv_id").reset_index(drop=True)

    skipped = {m["stage"] for m in _metrics(run2) if m.get("skipped")}
    for stage in ("sign", "exact_edges", "candidates", "verify", "cluster"):
        assert stage in skipped, f"stage {stage} recomputed on resume"
    assert clusters1.equals(clusters2)

    # resumed result still matches the oracle
    want = golden["clusters"].sort_values("conv_id").reset_index(drop=True)
    assert clusters2.equals(want)


def test_run_context_run_leaves_nothing_cached(spark, turns_df, warehouse):
    """Every stage of a RunContext run is read back from its checkpoint, so
    the run must leave no cached frame behind — a long-lived session runs
    many of them.  That holds for a batch run and for a delta pass folded
    onto its output; a batch run without a RunContext holds its stages in
    memory until its ``cleanup``."""
    from pyspark.sql import functions as F

    from bibexpy_spark import incremental

    spark.catalog.clearCache()
    sc = spark.sparkContext

    def persisted_rdds() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keySet())

    # only the RDDs this run persists: Spark's context cleaner may release
    # an earlier test's checkpoint at any moment during the run
    held = persisted_rdds()
    res = pipeline.run_dedup(spark, turns_df, CANONICAL)
    res["clusters"].write.parquet(os.path.join(warehouse, "no_run_clusters"))
    stored = persisted_rdds() - held
    assert stored
    res["cleanup"]()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert not persisted_rdds() & stored

    is_new = F.abs(F.xxhash64("conv_id")) % 10 >= 7
    run = RunContext(spark, CANONICAL, warehouse, run_id="runC", input_token="tok1")
    prior = pipeline.run_dedup(
        spark, turns_df.filter(~is_new), CANONICAL, run=run,
        with_containment=True, with_simhash_pass=True,
        containment_mode="general",
    )
    run.close()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    delta_run = RunContext(spark, CANONICAL, warehouse, run_id="runC_delta",
                           input_token="tok1")
    res = incremental.run_incremental_dedup(
        spark, turns_df.filter(is_new), prior["signed"], prior["clusters"],
        with_containment=True, with_simhash_pass=True,
        containment_mode="general", run=delta_run,
    )
    res["clusters"].count()
    res["cleanup"]()
    delta_run.close()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_batch_stage_names_are_perfbench_layers(spark, turns_df, warehouse):
    """perfbench's per-layer trace indexes ``STAGE_LAYER`` with every stage
    a batch run materializes and reads the bucket counters from the first
    metrics row that has ``hot_buckets``: a batch run with containment and
    SimHash on writes only stage names it maps, and that row is the
    ``candidates`` row."""
    from perfbench.trace import STAGE_LAYER

    run = RunContext(spark, CANONICAL, warehouse, run_id="layers", input_token="t")
    pipeline.run_dedup(
        spark, turns_df, CANONICAL, run=run,
        with_containment=True, with_simhash_pass=True,
    )
    rows = _metrics(run)
    stages = {m["stage"] for m in rows}
    assert stages <= set(STAGE_LAYER), stages - set(STAGE_LAYER)
    assert {"sign", "exact_edges", "candidates", "contain_prefix", "fuzzy"} <= stages
    cand = next(m for m in rows if "hot_buckets" in m)
    assert cand["stage"] == "candidates" and "active_buckets" in cand
    fuzzy = next(m for m in rows if m["stage"] == "fuzzy")
    assert {"hot_chunk_buckets", "active_chunk_buckets"} <= set(fuzzy)


def test_mid_run_kill_resumes_from_checkpoint(spark, turns_df, warehouse):
    """Simulate a crash after the sign stage: delete downstream manifests,
    relaunch, and assert the completed stages report checkpoint hits."""
    run1 = RunContext(spark, CANONICAL, warehouse, run_id="runB", input_token="tok1")
    pipeline.run_dedup(spark, turns_df, CANONICAL, run=run1)

    # "kill" after stage 2: drop everything downstream of sign
    for stage in ("exact_edges", "candidates", "verify", "cluster",
                  "contain_prefix", "fuzzy"):
        mp = os.path.join(run1.run_dir, f"{stage}.manifest.json")
        if os.path.exists(mp):
            os.remove(mp)

    run2 = RunContext(spark, CANONICAL, warehouse, run_id="runB", input_token="tok1")
    pipeline.run_dedup(spark, turns_df, CANONICAL, run=run2)
    by_stage = {m["stage"]: m for m in _metrics(run2) if "skipped" in m}
    assert by_stage["sign"]["skipped"] is True
    assert by_stage["cluster"]["skipped"] is False


def test_config_change_invalidates_checkpoints(spark, turns_df, warehouse):
    from bibexpy_spark.config import DedupConfig

    run1 = RunContext(spark, CANONICAL, warehouse, run_id="runC", input_token="tok1")
    pipeline.run_dedup(spark, turns_df, CANONICAL, run=run1)

    other = DedupConfig(jaccard_threshold=0.7)
    run2 = RunContext(spark, other, warehouse, run_id="runC", input_token="tok1")
    assert run1.stage_fresh("sign")
    assert not run2.stage_fresh("sign")


def test_input_change_invalidates_checkpoints(spark, turns_df, warehouse):
    run1 = RunContext(spark, CANONICAL, warehouse, run_id="runD", input_token="tok1")
    pipeline.run_dedup(spark, turns_df, CANONICAL, run=run1)
    run2 = RunContext(spark, CANONICAL, warehouse, run_id="runD", input_token="tok2")
    assert run1.stage_fresh("sign")
    assert not run2.stage_fresh("sign")


def test_input_token_fingerprints_files(tmp_path):
    p = tmp_path / "x y.parquet"
    p.write_bytes(b"abc")
    t1 = input_token_for_paths(str(p))
    p.write_bytes(b"abcd")
    t2 = input_token_for_paths(str(p))
    assert t1 != t2
    # a file: URI, as DataFrame.inputFiles() lists it, names the same file
    assert input_token_for_paths(p.as_uri()) == t2


def test_manifests_carry_partition_lineage(spark, tmp_path):
    """North rule: every stage writes per-partition lineage — each stage
    manifest lists its output part-files with sizes."""
    import json
    import os

    from bibexpy_spark import corpus, pipeline
    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.lineage import RunContext, input_token_for_paths

    src = corpus.corpus_path_for_sf("/root/testdata/sf0.001")
    run = RunContext(
        spark, cfg=CANONICAL, warehouse=str(tmp_path), run_id="pl",
        input_token=input_token_for_paths(src),
    )
    pipeline.run_dedup(
        spark, spark.read.parquet(src), run=run,
        with_containment=False, with_simhash_pass=False,
    )
    manifests = [
        f for f in os.listdir(run.run_dir) if f.endswith(".manifest.json")
    ]
    assert manifests
    for mf in manifests:
        m = json.load(open(os.path.join(run.run_dir, mf)))
        assert m["partitions"], f"{mf} has no partition lineage"
        assert all(p["bytes"] > 0 for p in m["partitions"])


def test_content_hash_token_sees_through_mtime(tmp_path):
    """VERDICT r2 #8: a file rewritten with identical size and a RESTORED
    mtime fools the (size, mtime) token but not the content-hash token —
    the staleness gap an Iceberg snapshot id would close."""
    p = tmp_path / "input.txt"
    p.write_text("aaaa")
    st = os.stat(p)
    t_cheap_1 = input_token_for_paths(str(p))
    t_content_1 = input_token_for_paths(str(p), content_hash=True)

    p.write_text("bbbb")  # same size, new content
    os.utime(p, (st.st_atime, st.st_mtime))  # restore mtime exactly

    assert input_token_for_paths(str(p)) == t_cheap_1  # cheap token blind
    t_content_2 = input_token_for_paths(str(p), content_hash=True)
    assert t_content_2 != t_content_1  # content token sees the rewrite


def test_content_hash_token_gates_stage_freshness(spark, tmp_path):
    """Integration: a RunContext keyed on the content token re-runs a stage
    after an mtime-preserving rewrite; manifests carry the token."""
    import json as _json

    from bibexpy_spark.config import CANONICAL

    src = tmp_path / "in.txt"
    src.write_text("v1 content")
    st = os.stat(src)
    wh = str(tmp_path / "wh")

    def build():
        return spark.range(3).toDF("v")

    ctx = RunContext(spark, CANONICAL, wh, run_id="r1",
                     input_token=input_token_for_paths(str(src), content_hash=True))
    ctx.materialize("stage_a", build)
    assert ctx.stage_fresh("stage_a")
    m = _json.load(open(os.path.join(ctx.run_dir, "stage_a.manifest.json")))
    assert m["input_token"] == ctx.input_token

    src.write_text("v2 content")  # same size
    os.utime(src, (st.st_atime, st.st_mtime))
    ctx2 = RunContext(spark, CANONICAL, wh, run_id="r1",
                      input_token=input_token_for_paths(str(src), content_hash=True))
    assert not ctx2.stage_fresh("stage_a")  # content change -> rerun


def test_input_token_walks_partitioned_dirs(tmp_path):
    """Regression (r4 review): a PARTITIONED input (key=val/ subdirs) must
    token its leaf files — the one-level listing stat'ed the subdirectory
    itself, so a same-size in-place rewrite deep in a partition could keep
    the cheap token, and content mode crashed opening the directory."""
    import os

    root = tmp_path / "tbl"
    part = root / "year=2025"
    part.mkdir(parents=True)
    f = part / "part-0.parquet"
    f.write_bytes(b"abc")
    t_cheap = input_token_for_paths(str(root))
    t_content = input_token_for_paths(str(root), content_hash=True)  # no crash
    st = os.stat(f)
    f.write_bytes(b"xyz")  # same size
    os.utime(f, (st.st_atime, st.st_mtime))  # restored mtime
    os.utime(part, (st.st_atime, st.st_mtime))
    assert input_token_for_paths(str(root), content_hash=True) != t_content
    # cheap mode now at least sees size changes in leaf files
    f.write_bytes(b"lengthier")
    assert input_token_for_paths(str(root)) != t_cheap


def test_crash_before_stage_manifest_leaves_no_stale_manifest(
    spark, warehouse, monkeypatch
):
    """A run that replaces a stage's table and dies before writing the
    stage's manifest must not leave the previous run's manifest vouching
    for the new table: a relaunch with the first run's input token finds
    the stage stale and rebuilds it, instead of reading the crashed run's
    rows."""

    def launch(token: str) -> RunContext:
        return RunContext(spark, CANONICAL, warehouse, run_id="stale", input_token=token)

    run_a = launch("A")
    assert run_a.materialize("s", lambda: spark.range(3)).count() == 3
    run_a.close()

    def crash(*args, **kwargs):
        raise RuntimeError("injected crash")

    run_b = launch("B")
    with monkeypatch.context() as m:
        m.setattr(RunContext, "_write_manifest", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_b.materialize("s", lambda: spark.range(7))
    run_b.close()

    relaunch = launch("A")
    assert not relaunch.stage_fresh("s")
    assert relaunch.materialize("s", lambda: spark.range(3)).count() == 3
    assert [m["skipped"] for m in relaunch.metrics] == [False]
    relaunch.close()
