"""End-to-end deployment-contract test: the pipeline runs via a REAL
`spark-submit --py-files bibexpy_spark.zip jobs/dedup_job.py` subprocess
(the north rule's execution mode), writes cluster assignments, and resumes
from its checkpoint manifests on a second invocation."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_pyfiles_roundtrip(tmp_path):
    from bibexpy_spark import corpus

    turns_path = corpus.corpus_path_for_sf("/root/testdata/sf0.001")
    zip_path = str(tmp_path / "bibexpy_spark.zip")
    out_dir = str(tmp_path / "out")
    run_dir = str(tmp_path / "warehouse")

    # package the library exactly as a cluster submit would
    mk = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "dedup_job.py"), "--make-zip"],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=120,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert mk.returncode == 0, mk.stderr[-2000:]
    assert os.path.exists(zip_path)

    def submit():
        return subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[4]",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zip_path,
                os.path.join(REPO, "jobs", "dedup_job.py"),
                "--input", turns_path,
                "--output", out_dir,
                "--run-dir", run_dir,
                "--run-id", "t1",
                "--no-simhash",
                "--containment",
                "--containment-mode", "general_sa",
            ],
            capture_output=True, text=True, timeout=600,
        )

    # expected assignment count = distinct conversations in the input
    # (derived, not hardcoded — ADVICE r3: a fixture-seed or duckdb-hash
    # bump must not fail the test without a real regression)
    import duckdb

    n_conv = duckdb.sql(
        f"SELECT count(DISTINCT conv_id) FROM read_parquet('{turns_path}')"
    ).fetchone()[0]

    r1 = submit()
    assert r1.returncode == 0, r1.stderr[-3000:]
    assert f"wrote {n_conv} cluster assignments" in (r1.stdout + r1.stderr)

    # clusters parquet is readable and complete
    n = duckdb.sql(
        f"SELECT count(*), count(DISTINCT conv_id) FROM "
        f"read_parquet('{out_dir}/clusters/*.parquet')"
    ).fetchone()
    assert n[0] == n_conv and n[1] == n_conv

    # the general_sa containment mode wrote both containment outputs, and
    # every interior pair names two distinct conversations
    bad = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out_dir}/containment_pairs/*.parquet') "
        f"WHERE inner_id = outer_id"
    ).fetchone()[0]
    assert bad == 0
    duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out_dir}/containment_prefix/*.parquet')"
    ).fetchone()

    # second run with the same run-id resumes: every stage manifest is fresh
    manifests = [
        f for f in os.listdir(os.path.join(run_dir, "t1"))
        if f.endswith(".manifest.json")
    ]
    assert manifests, "no stage manifests written"
    r2 = submit()
    assert r2.returncode == 0, r2.stderr[-3000:]
    metrics_path = os.path.join(run_dir, "t1", "metrics.jsonl")
    if os.path.exists(metrics_path):
        rows = [json.loads(x) for x in open(metrics_path)]
        assert any(r.get("skipped") for r in rows), "resume did not skip stages"


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_incremental_mode(tmp_path):
    """Deployment contract for delta runs: a batch submit writes corpus
    state (signed + clusters + containment pair state); a --prior-state
    submit folds a new batch in and must reproduce the full-batch clustering
    AND the composed containment pair table exactly."""
    import duckdb

    from bibexpy_spark import corpus

    turns_path = corpus.corpus_path_for_sf("/root/testdata/sf0.001")
    old_p = str(tmp_path / "old.parquet")
    new_p = str(tmp_path / "new.parquet")
    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{turns_path}') "
        f"WHERE hash(conv_id) % 10 < 7) TO '{old_p}' (FORMAT parquet)"
    )
    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{turns_path}') "
        f"WHERE hash(conv_id) % 10 >= 7) TO '{new_p}' (FORMAT parquet)"
    )

    zip_path = str(tmp_path / "bibexpy_spark.zip")
    mk = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "dedup_job.py"), "--make-zip"],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=120,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert mk.returncode == 0, mk.stderr[-2000:]

    def submit(extra):
        return subprocess.run(
            [
                SPARK_SUBMIT, "--master", "local[4]",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zip_path,
                os.path.join(REPO, "jobs", "dedup_job.py"),
                "--no-simhash", "--containment",
                "--containment-mode", "general", *extra,
            ],
            capture_output=True, text=True, timeout=600,
        )

    out_full = str(tmp_path / "out_full")
    out_old = str(tmp_path / "out_old")
    out_incr = str(tmp_path / "out_incr")
    r = submit(["--input", turns_path, "--output", out_full])
    assert r.returncode == 0, r.stderr[-3000:]
    r = submit(["--input", old_p, "--output", out_old])
    assert r.returncode == 0, r.stderr[-3000:]
    r = submit([
        "--input", new_p, "--output", out_incr, "--prior-state", out_old,
    ])
    assert r.returncode == 0, r.stderr[-3000:]

    diff = duckdb.sql(
        f"SELECT count(*) FROM ("
        f"  (SELECT conv_id, cluster_id FROM read_parquet('{out_incr}/clusters/*.parquet')"
        f"   EXCEPT"
        f"   SELECT conv_id, cluster_id FROM read_parquet('{out_full}/clusters/*.parquet'))"
        f"  UNION ALL"
        f"  (SELECT conv_id, cluster_id FROM read_parquet('{out_full}/clusters/*.parquet')"
        f"   EXCEPT"
        f"   SELECT conv_id, cluster_id FROM read_parquet('{out_incr}/clusters/*.parquet'))"
        f")"
    ).fetchone()[0]
    assert diff == 0, "incremental submit diverged from full-batch submit"
    # composed containment pair state == the full-batch pass over old ∪ new
    # (prior pairs minus resigned-touching, union delta pairs — the delta-op
    # equivalence contract, operationalized by the job's state composition)
    pair_diff = duckdb.sql(
        f"SELECT count(*) FROM ("
        f"  (SELECT inner_id, outer_id, pos FROM read_parquet('{out_incr}/containment_pairs/*.parquet')"
        f"   EXCEPT"
        f"   SELECT inner_id, outer_id, pos FROM read_parquet('{out_full}/containment_pairs/*.parquet'))"
        f"  UNION ALL"
        f"  (SELECT inner_id, outer_id, pos FROM read_parquet('{out_full}/containment_pairs/*.parquet')"
        f"   EXCEPT"
        f"   SELECT inner_id, outer_id, pos FROM read_parquet('{out_incr}/containment_pairs/*.parquet'))"
        f")"
    ).fetchone()[0]
    assert pair_diff == 0, "composed containment state diverged from batch"
    # the next-delta state is written and complete: one signed row per
    # distinct conversation across old + new (derived, not hardcoded)
    n_conv = duckdb.sql(
        f"SELECT count(DISTINCT conv_id) FROM ("
        f"SELECT conv_id FROM read_parquet('{old_p}') "
        f"UNION ALL SELECT conv_id FROM read_parquet('{new_p}'))"
    ).fetchone()[0]
    n_state = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out_incr}/signed/*.parquet')"
    ).fetchone()[0]
    assert n_state == n_conv


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_prior_state_alone_folds_the_delta(tmp_path):
    """--prior-state is all a delta run needs: with no other flag the job
    folds --input into that state, and the clusters equal the full-batch
    submit's (a job that ignored the prior state would cluster the delta
    alone)."""
    import duckdb

    from bibexpy_spark import corpus

    turns_path = corpus.corpus_path_for_sf("sf0.001")
    old_p = str(tmp_path / "old.parquet")
    new_p = str(tmp_path / "new.parquet")
    for path, cond in ((old_p, "< 7"), (new_p, ">= 7")):
        duckdb.sql(
            f"COPY (SELECT * FROM read_parquet('{turns_path}') "
            f"WHERE hash(conv_id) % 10 {cond}) TO '{path}' (FORMAT parquet)"
        )

    def submit(*args):
        r = subprocess.run(
            [
                SPARK_SUBMIT, "--master", "local[4]",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--conf", "spark.ui.enabled=false",
                os.path.join(REPO, "jobs", "dedup_job.py"), *args,
            ],
            capture_output=True, text=True, timeout=600,
            env={**os.environ, "PYTHONPATH": REPO},
        )
        assert r.returncode == 0, r.stderr[-3000:]

    def clusters(out):
        return duckdb.sql(
            f"SELECT conv_id, cluster_id FROM read_parquet('{out}/clusters/*.parquet') "
            "ORDER BY conv_id"
        ).fetchall()

    out_full, out_old, out_new = (str(tmp_path / n) for n in ("full", "old", "new"))
    submit("--input", turns_path, "--output", out_full)
    submit("--input", old_p, "--output", out_old)
    submit("--input", new_p, "--output", out_new, "--prior-state", out_old)
    assert clusters(out_new) == clusters(out_full)


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_incremental_resume(tmp_path):
    """--run-dir on a delta run: a second run with the same run dir
    skips every delta stage and writes identical clusters; a different
    --prior-state invalidates the stages.  With --table the input is
    tokened by the files its scan reads: a relaunch after the table was
    rewritten recomputes and equals a fresh run over the new turns."""
    import shutil

    import duckdb

    from bibexpy_spark import corpus

    turns_path = corpus.corpus_path_for_sf("sf0.001")
    old_p = str(tmp_path / "old.parquet")
    new_p = str(tmp_path / "new.parquet")
    for path, cond in ((old_p, "< 7"), (new_p, ">= 7")):
        duckdb.sql(
            f"COPY (SELECT * FROM read_parquet('{turns_path}') "
            f"WHERE hash(conv_id) % 10 {cond}) TO '{path}' (FORMAT parquet)"
        )

    def submit(extra):
        return subprocess.run(
            [
                SPARK_SUBMIT, "--master", "local[4]",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--conf", "spark.ui.enabled=false",
                os.path.join(REPO, "jobs", "dedup_job.py"), "--no-simhash", *extra,
            ],
            capture_output=True, text=True, timeout=600,
            env={**os.environ, "PYTHONPATH": REPO},
        )

    out_old = str(tmp_path / "out_old")
    r = submit(["--input", old_p, "--output", out_old])
    assert r.returncode == 0, r.stderr[-3000:]
    run_dir = str(tmp_path / "wh")
    metrics = os.path.join(run_dir, "d1", "metrics.jsonl")

    def delta(prior, out):
        r = submit(["--input", new_p, "--output", out, "--prior-state", prior,
                    "--run-dir", run_dir, "--run-id", "d1"])
        assert r.returncode == 0, r.stderr[-3000:]
        rows = [json.loads(x) for x in open(metrics)]
        stats = [x for x in r.stderr.splitlines() if "dedup_job: stats" in x]
        return [x for x in rows if "skipped" in x], stats, out

    def clusters(out):
        return duckdb.sql(
            f"SELECT conv_id, cluster_id FROM read_parquet('{out}/clusters/*.parquet') "
            "ORDER BY conv_id"
        ).fetchall()

    first, stats1, out1 = delta(out_old, str(tmp_path / "out1"))
    assert first and not any(x["skipped"] for x in first)
    assert {"sign", "exact_edges", "reps", "candidates", "verify",
            "edges", "cluster"} <= {x["stage"] for x in first}

    rows2, stats2, out2 = delta(out_old, str(tmp_path / "out2"))
    second = rows2[len(first):]
    assert {x["stage"] for x in second} == {x["stage"] for x in first}
    assert all(x["skipped"] for x in second)
    assert clusters(out2) == clusters(out1)
    assert stats2 == stats1

    moved = str(tmp_path / "out_old_copy")
    shutil.copytree(out_old, moved)
    rows3, _, out3 = delta(moved, str(tmp_path / "out3"))
    third = rows3[len(rows2):]
    assert third and not any(x["skipped"] for x in third)
    assert clusters(out3) == clusters(out1)

    table_dir = tmp_path / "turns_table"
    table_metrics = os.path.join(run_dir, "tbl", "metrics.jsonl")

    def table_run(turns, out):
        shutil.rmtree(table_dir, ignore_errors=True)
        table_dir.mkdir()
        shutil.copy(turns, table_dir / "part-0.parquet")
        r = submit(["--table", "--input", f"parquet.`{table_dir}`",
                    "--output", out, "--run-dir", run_dir, "--run-id", "tbl"])
        assert r.returncode == 0, r.stderr[-3000:]
        return [json.loads(x) for x in open(table_metrics)]

    rows_t1 = table_run(new_p, str(tmp_path / "out_t1"))
    rows_t2 = table_run(old_p, str(tmp_path / "out_t2"))
    assert not any(x.get("skipped") for x in rows_t2[len(rows_t1):])
    assert clusters(str(tmp_path / "out_t2")) == clusters(out_old)


def test_incremental_refuses_in_place_state_overwrite(tmp_path):
    """Regression (r4 review): --prior-state at/under
    --output would lazily read the prior state while write.mode("overwrite")
    deletes it (Spark's self-overwrite detection covers only catalog tables,
    not file sources) — the next delta's state silently corrupts.  The job
    must refuse before touching Spark."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "dedup_job_inplace", os.path.join(REPO, "jobs", "dedup_job.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    out = str(tmp_path / "state")
    base = ["--input", "in.parquet", "--output", out, "--no-simhash"]
    # prior state directly inside the output dir
    with pytest.raises(SystemExit):
        mod.main(base + ["--prior-state", os.path.join(out, "prev")])
    # ... or the output inside the prior state
    with pytest.raises(SystemExit):
        mod.main(base + ["--prior-state", str(tmp_path)])
    # symlink alias of the output dir must not evade the guard
    (tmp_path / "state").mkdir()
    alias = tmp_path / "alias"
    alias.symlink_to(tmp_path / "state")
    with pytest.raises(SystemExit):
        mod.main(base + ["--prior-state", str(alias)])
    # scheme'd URIs compare textually (realpath must not mangle them)
    with pytest.raises(SystemExit):
        mod.main(["--input", "in.parquet", "--output", "s3://bkt/out/",
                  "--no-simhash", "--prior-state", "s3://bkt/out/prev"])
    # mixed-form aliases (ADVICE r4): file:// scheme'd output vs plain
    # local prior path — and the reverse — name the same directory and
    # must not evade the guard
    with pytest.raises(SystemExit):
        mod.main(base[:2] + ["--output", "file://" + out, "--no-simhash",
                             "--prior-state", os.path.join(out, "prev")])
    with pytest.raises(SystemExit):
        mod.main(base + ["--prior-state", "file://" + out + "/prev"])
    # single-slash scheme form (Hadoop accepts file:/x) also normalizes
    with pytest.raises(SystemExit):
        mod.main(base + ["--prior-state", "file:" + out + "/prev"])
    # --prior-turns overlapping the output is refused too, and without a
    # --prior-state it names no state to fold into
    with pytest.raises(SystemExit):
        mod.main(base + ["--prior-state", str(tmp_path / "old"),
                         "--prior-turns", os.path.join(out, "turns")])
    with pytest.raises(SystemExit):
        mod.main(base + ["--prior-turns", str(tmp_path / "turns")])
