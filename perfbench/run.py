"""Benchmark of the transcript dedup pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 10 --trace 0

One run starts one long-lived ``local[<cpus>]`` session, times one cold
pass, then repeats steady passes of the public call ``jobs/dedup_job.py``
makes until ``--seconds`` have passed (closed loop: one client, the next
pass starts when the previous one completes).  Every pass is checked
against an exact, LSH-free oracle.  The last stdout line is one JSON
object: end-to-end metrics with ``--trace 0``, per-layer metrics from an
extra traced pass with ``--trace 1``.  Metric names and units are read
from ``BENCHMARK.json``; perfbench/README.md explains each of them.

All scratch state lives under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: base conversations of the generate_transcripts corpus (both workloads)
N_BASE = 500
#: incr_delta: share of the corpus's turns that forms the delta
DELTA_SHARE = 0.02
#: conversations of the corpus on which the oracle is checked by brute force
CROSS_CHECK_CONVS = 200
#: every workload must reach these against the oracle
MIN_RECALL = 0.99
MIN_PRECISION = 0.99

SIG_COLS = ["conv_id", "content_sha", "shingles", "band_hashes"]
WORKLOADS = ("batch_mixed", "incr_delta")


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_probe_s() -> float:
    """Median of three runs of a fixed numpy-only loop: a host-speed sample
    that does not touch the program."""
    import numpy as np

    data = np.random.default_rng(0).random(200_000)

    def once() -> float:
        t0 = time.perf_counter()
        acc = 0.0
        for i in range(40):
            acc += float(np.sqrt(np.sort(data * (i + 1))[::3]).sum())
        return time.perf_counter() - t0

    return statistics.median(once() for _ in range(3))


def session_env(run_dir: str) -> dict[str, str]:
    """Session sizing through the program's own environment variables, and
    every scratch path of Spark and the JVM kept inside ``run_dir``."""
    with open("/proc/meminfo") as f:
        total_gib = int(f.readline().split()[1]) // 2**20
    tmp = os.path.join(run_dir, "tmp")
    return {
        # build_spark's default of 32 cores oversubscribes small hosts
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # build_spark's default 48g heap can exceed the host
        "SPARK_DRIVER_MEM": f"{max(1, min(4, total_gib // 4))}g",
        # Python workers import the program from this checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }


def spark_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }


def write_turns(pdf, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
    ])
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
        path, row_group_size=20_000,
    )
    return path


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=[]).num_rows


class Failure(Exception):
    """A pass finished but its outputs or bookkeeping are wrong."""


class Bench:
    """One workload in one session: inputs, passes and their checks."""

    def __init__(self, spark, workload: str, seed: int, run_dir: str) -> None:
        from bibexpy_spark import corpus

        from perfbench import oracle

        self.spark = spark
        self.workload = workload
        self.run_dir = run_dir
        self.passes = 0
        self.reference = None  # first pass's cluster assignment
        pdf = corpus.generate_transcripts(N_BASE, seed=seed)
        self.truth = oracle.cached_truth(
            os.path.join(WORK, "oracle", f"transcripts-{N_BASE}-{seed}.json"), pdf
        )
        self.oracle_ok = oracle.cross_check(
            corpus.generate_transcripts(CROSS_CHECK_CONVS, seed=seed)
        )
        if workload == "batch_mixed":
            self.input_turns = len(pdf)
            self.turns_path = write_turns(pdf, os.path.join(run_dir, "turns.parquet"))
        else:
            # hash-split: conversations in stable-hash order join the delta
            # while they fit in DELTA_SHARE of the turns, so every seed's
            # delta has the same share of turns
            sizes = pdf.groupby("conv_id").size()
            budget = round(DELTA_SHARE * len(pdf))
            delta = []
            for conv_id in sorted(sizes.index, key=corpus.hash_stable):
                if sizes[conv_id] <= budget:
                    delta.append(conv_id)
                    budget -= sizes[conv_id]
            in_delta = pdf["conv_id"].isin(delta)
            self.input_turns = int(in_delta.sum())
            self.delta_convs = len(delta)
            self.prior_path = write_turns(pdf[~in_delta], os.path.join(run_dir, "prior.parquet"))
            self.turns_path = write_turns(pdf[in_delta], os.path.join(run_dir, "delta.parquet"))
            self.state = os.path.join(run_dir, "state")

    # -- passes ------------------------------------------------------------

    def _out(self) -> str:
        self.passes += 1
        return os.path.join(self.run_dir, "out", f"pass{self.passes}")

    def build_prior_state(self) -> None:
        """incr_delta set-up: batch run over the corpus minus the delta,
        state written as ``dedup_job.py --no-simhash`` writes it."""
        from bibexpy_spark import pipeline

        res = pipeline.run_dedup(
            self.spark, self.spark.read.parquet(self.prior_path),
            with_containment=False, with_simhash_pass=False,
        )
        res["clusters"].write.parquet(os.path.join(self.state, "clusters"))
        res["signed"].select(*SIG_COLS).write.parquet(os.path.join(self.state, "signed"))

    def run_pass(self, tracer=None) -> dict:
        """One timed pass; returns its wall time and what the checks and
        the trace need."""
        from bibexpy_spark.config import CANONICAL
        from bibexpy_spark.lineage import RunContext

        from perfbench.trace import Span, TracingRunContext

        self.spark.catalog.clearCache()  # no pass may reuse a cached plan
        out = self._out()
        wh = os.path.join(self.run_dir, "wh")
        info: dict = {"out": out}
        if self.workload == "batch_mixed":
            from bibexpy_spark import pipeline

            if tracer is None:
                run = RunContext(self.spark, cfg=CANONICAL, warehouse=wh)
            else:
                run = TracingRunContext(self.spark, cfg=CANONICAL, warehouse=wh, ledger=tracer)
            info["run"] = run
            t0 = time.perf_counter()
            try:
                res = pipeline.run_dedup(
                    self.spark, self.spark.read.parquet(self.turns_path), run=run,
                    with_containment=True, with_simhash_pass=True,
                )
                for key in ("clusters", "dup_edges", "containment_prefix", "simhash_pairs"):
                    res[key].write.parquet(os.path.join(out, key))
            finally:
                run.close()
            info["wall"] = time.perf_counter() - t0
            stages = [r for r in run.metrics if "skipped" in r]
            if not stages or any(r["skipped"] for r in stages):
                raise Failure(f"a stage reused a checkpoint: {stages}")
        else:
            from bibexpy_spark import incremental

            first = tracer.last_stage_id() if tracer else -1
            t0 = time.perf_counter()
            prior_signed = self.spark.read.parquet(os.path.join(self.state, "signed"))
            res = incremental.run_incremental_dedup(
                self.spark, self.spark.read.parquet(self.turns_path), prior_signed,
                self.spark.read.parquet(os.path.join(self.state, "clusters")), cfg=CANONICAL,
            )
            res["clusters"].write.parquet(os.path.join(out, "clusters"))
            res["cluster_remap"].write.parquet(os.path.join(out, "cluster_remap"))
            # next-delta state: the delta's signatures supersede prior rows
            prior_signed.select(*SIG_COLS).join(
                res["signed_new"].select("conv_id"), "conv_id", "left_anti"
            ).unionByName(res["signed_new"].select(*SIG_COLS)).write.parquet(
                os.path.join(out, "signed")
            )
            t1 = time.perf_counter()
            info["wall"] = t1 - t0
            if tracer is not None:
                info["span"] = Span("incremental", "pass", t0, t1, first, tracer.last_stage_id())
                info["stats"] = res["stats"].first().asDict()
            res["cleanup"]()
        return info

    def check(self, info: dict) -> tuple[float, float]:
        """Recall and precision of a pass's clusters; raises Failure when
        they miss the bar or differ from the first pass's."""
        import pandas as pd

        from perfbench import oracle

        clusters = pd.read_parquet(os.path.join(info["out"], "clusters"))
        recall, precision = oracle.pair_scores(self.truth, clusters)
        info["clusters"] = int(clusters["cluster_id"].nunique())
        assignment = clusters.sort_values("conv_id").reset_index(drop=True)
        if self.reference is None:
            self.reference = assignment
        elif not assignment.equals(self.reference):
            raise Failure("cluster assignment differs from the first pass")
        if recall < MIN_RECALL or precision < MIN_PRECISION:
            raise Failure(f"recall {recall:.4f} / precision {precision:.4f} below bar")
        return recall, precision

    def discard(self, info: dict) -> None:
        if "out" not in info:
            return
        if "run" in info:
            shutil.rmtree(info["run"].run_dir, ignore_errors=True)
        shutil.rmtree(info["out"], ignore_errors=True)


def layer_metrics(bench: Bench, info: dict, tracer, untraced_wall: float) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    from perfbench.trace import STAGE_LAYER, STAGE_TOTALS

    m: dict[str, float] = {}
    layers = list(STAGE_LAYER.values()) + ["incremental"]
    for layer in layers:
        for suffix in ("span_s", "rows_out") + STAGE_TOTALS:
            m[f"{layer}.{suffix}"] = 0.0
    for key in ("lsh.hot_buckets", "lsh.active_buckets", "lsh.candidate_pairs",
                "verify.precision", "exact.rep_share", "simhash.pairs",
                "containment.pairs", "lineage.bytes_written_mb"):
        m[key] = 0.0
    for key in ("new_convs", "cross_exact", "new_reps", "candidates", "dup_edges",
                "merged_prior_clusters"):
        m[f"incremental.{key}"] = 0.0

    wall = info["wall"]
    m["trace.pass_s"] = wall
    m["trace.overhead_s"] = wall - untraced_wall
    m["components.clusters"] = info["clusters"]
    if bench.workload == "batch_mixed":
        run = info["run"]
        rows = {r["stage"]: r["rows"] for r in run.metrics if "rows" in r}
        for span in run.spans:
            layer = STAGE_LAYER[span.name]
            m[f"{layer}.span_s"] = span.seconds
            m[f"{layer}.rows_out"] = rows[span.name]
            for k, v in tracer.totals(span.first_stage, span.last_stage).items():
                m[f"{layer}.{k}"] = v
        m["pipeline.unattributed_s"] = wall - sum(s.seconds for s in run.spans)
        cand = next(r for r in run.metrics if "hot_buckets" in r)
        m["lsh.hot_buckets"] = cand["hot_buckets"]
        m["lsh.active_buckets"] = cand["active_buckets"]
        m["lsh.candidate_pairs"] = rows["candidates"]
        dup_edges = parquet_rows(os.path.join(info["out"], "dup_edges"))
        m["verify.precision"] = dup_edges / rows["candidates"] if rows["candidates"] else 0.0
        m["exact.rep_share"] = 1 - rows["exact_edges"] / rows["sign"]
        m["simhash.pairs"] = rows["fuzzy"]
        m["containment.pairs"] = rows["contain_prefix"]
        written = 0
        for stage in rows:
            with open(os.path.join(run.run_dir, f"{stage}.manifest.json")) as f:
                written += sum(p["bytes"] for p in json.load(f)["partitions"])
        m["lineage.bytes_written_mb"] = written / 2**20
    else:
        span, stats = info["span"], info["stats"]
        m["incremental.span_s"] = span.seconds
        m["incremental.rows_out"] = parquet_rows(os.path.join(info["out"], "clusters"))
        for k, v in tracer.totals(span.first_stage, span.last_stage).items():
            m[f"incremental.{k}"] = v
        m["pipeline.unattributed_s"] = wall - span.seconds
        for key, stat in (("new_convs", "n_new"), ("cross_exact", "n_cross_exact"),
                          ("new_reps", "n_new_reps"), ("candidates", "n_candidates"),
                          ("dup_edges", "n_dup_edges"),
                          ("merged_prior_clusters", "n_merged_prior_clusters")):
            m[f"incremental.{key}"] = stats[stat]
        # the delta's signing runs inside the incremental span: the rows it
        # signed are the stats' n_new (delta conversations plus re-signed)
        m["udfs.rows_out"] = stats["n_new"]
    return m


def stop_session(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for all."""
    from pyspark import SparkContext

    from perfbench.trace import proc_tree

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    tree = proc_tree(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.1)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    run_dir = os.path.join(WORK, f"{workload}-{seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ.update(session_env(run_dir))

    from bibexpy_spark.session import build_spark, warm_python_workers

    from perfbench.trace import RssSampler, StageLedger

    m: dict[str, float] = {}
    spark = build_spark(app_name=f"perfbench-{workload}", extra_conf=spark_conf(run_dir))
    try:
        t0 = time.perf_counter()
        warm_python_workers(spark, spark.sparkContext.defaultParallelism)
        m["session.worker_warm_s"] = time.perf_counter() - t0
        setup_s = process_age_s()

        bench = Bench(spark, workload, seed, run_dir)
        if workload == "incr_delta":
            t0 = time.perf_counter()
            bench.build_prior_state()
            setup_s += time.perf_counter() - t0
        m["setup_s"] = setup_s
        m["host.probe_s"] = host_probe_s()

        attempted = failed = 0
        walls: list[float] = []  # successful timed passes
        scores: list[tuple[float, float]] = []

        def attempt(tracer=None) -> dict:
            """One pass; a failed pass is counted, never retried."""
            nonlocal attempted, failed
            attempted += 1
            t0 = time.perf_counter()
            try:
                info = bench.run_pass(tracer)
                scores.append(bench.check(info))
                info["ok"] = True
            except Exception:
                failed += 1
                traceback.print_exc()
                info = {"ok": False, "wall": time.perf_counter() - t0}
            return info

        from pyspark import SparkContext

        with RssSampler(SparkContext._gateway.proc.pid) as rss:
            if workload == "batch_mixed":
                # untimed warm-up; incr_delta is warmed by its prior-state
                # build, so its first timed pass is its cold pass
                info = attempt()
                m["cold_pass_s"] = info["wall"]
                bench.discard(info)
            tried: list[float] = []
            start = time.perf_counter()
            while not tried or time.perf_counter() - start < seconds:
                info = attempt()
                tried.append(info["wall"])
                if info["ok"]:
                    walls.append(info["wall"])
                bench.discard(info)
            m.setdefault("cold_pass_s", tried[0])
        m["session.peak_rss_mb"] = rss.peak_kb / 1024

        m["wall_s"] = statistics.median(walls or tried)
        m["turns_per_s"] = bench.input_turns / m["wall_s"]
        m["dup_pair_recall"] = min(r for r, _ in scores) if scores else 0.0
        m["dup_pair_precision"] = min(p for _, p in scores) if scores else 0.0
        m["ok_pass_share"] = (attempted - failed) / attempted
        mechanism_ok = True
        if trace:
            # the untraced pass right before the traced one is the reference
            # for the tracing overhead
            tracer = StageLedger(spark)
            untraced = attempt()
            bench.discard(untraced)
            info = attempt(tracer)
            if not (info["ok"] and untraced["ok"]):
                raise RuntimeError("a pass of the traced run failed")
            m.update(layer_metrics(bench, info, tracer, untraced["wall"]))
            bench.discard(info)
            if workload == "batch_mixed":
                mechanism_ok = m["lsh.hot_buckets"] == 0 and m["containment.pairs"] > 0
            else:
                mechanism_ok = m["udfs.rows_out"] <= bench.delta_convs
        correct = failed == 0 and bench.oracle_ok and mechanism_ok
        print(f"perfbench: {workload} seed {seed}: setup {m['setup_s']:.2f}s, "
              f"cold pass {m['cold_pass_s']:.2f}s, timed passes "
              f"{[round(w, 2) for w in walls]}, host probe {m['host.probe_s']:.3f}s, "
              f"{process_age_s():.1f}s since start", flush=True)
        return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": m}
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {x["name"]: x["unit"] for x in spec["per_layer" if args.trace else "end_to_end"]}
    if not os.path.isdir(os.path.join(ROOT, "bibexpy_spark")):
        print("perfbench: the program (bibexpy_spark/) is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import bench as legacy_bench  # stderr taxonomy of the legacy bench

    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, f"stderr-{args.workload}-{args.seed}.log")
    saved_stderr = os.dup(2)
    with open(log_path, "w") as log:
        os.dup2(log.fileno(), 2)  # Spark's JVM and workers inherit this fd
    try:
        result = run(args.workload, args.seed % 2**32, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        result = None
    finally:
        sys.stderr.flush()
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)

    errors = legacy_bench.classify_stderr(log_path)
    print(f"perfbench: stderr of {args.workload} seed {args.seed}: {errors} ({log_path})",
          file=sys.stderr)
    if result is None:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    m = result["metrics"]
    m["session.stderr_errors"] = sum(
        int(part.rsplit(":", 1)[1]) for part in errors.split(",")
        if ":" in part and not part.startswith("shutdown_noise")
    )
    missing = set(declared) - set(m)
    if missing:
        print(f"perfbench: metrics not computed: {sorted(missing)}", file=sys.stderr)
        return 1
    result["metrics"] = {k: {"value": float(m[k]), "unit": u} for k, u in declared.items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
