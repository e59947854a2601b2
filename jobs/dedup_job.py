"""spark-submit entry point for the transcript dedup pipeline.

The north rule's deployment contract: the pipeline runs via

    spark-submit --master <cluster> \\
        --py-files bibexpy_spark.zip \\
        jobs/dedup_job.py \\
        --input  <turns parquet/table>  \\
        --output <output dir>           \\
        --run-dir <warehouse dir for checkpoint/resume> \\
        [--no-simhash] [--containment] [--containment-mode prefix|general|general_sa] \\
        [--cluster-edges containment,simhash]

Every run is one dedup pass (bibexpy_spark.incremental.fold_state) and
writes the state the next run needs — signed signatures, clusters, and
when the passes are on, the containment / SimHash pair tables — plus
dup_edges and cluster_remap.  A daily delta is a run given the state of an
earlier one:

    ... dedup_job.py --input <new turns> --output <out2> --prior-state <out1> \\
        [--prior-turns <turns parquet>]

<out1> is any earlier --output with the same passes on; each run writes a
fresh directory.  Without --prior-state the run is a batch over --input.

--output is committed by its manifest (incremental.write_state): the tables
go to a fresh generation directory and one manifest file, written last,
makes them the state.  A run that dies before that leaves the directory's
previous state in force, and a relaunch into the same --output completes.

The script takes the ambient SparkSession from spark-submit (no master
override — the cluster manager decides); set Spark confs such as
spark.sql.shuffle.partitions with spark-submit --conf.  With --run-dir every stage
checkpoints with a manifest: a relaunch with the same run dir, input,
prior state, prior turns and pass flags skips every stored stage.

Build the --py-files archive with:  python jobs/dedup_job.py --make-zip
"""

from __future__ import annotations

import argparse
import os
import sys
import zipfile


def make_pyfiles_zip(out_path: str = "bibexpy_spark.zip") -> str:
    """Package the library for --py-files (pure-python, no build step)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "bibexpy_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return out_path


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="turns parquet path (or table with --table)")
    ap.add_argument("--table", action="store_true",
                    help="treat --input as a catalog table name (Iceberg etc.)")
    ap.add_argument("--output", help="output directory")
    ap.add_argument("--run-dir", default=None,
                    help="warehouse dir for checkpoint/resume manifests")
    ap.add_argument("--run-id", default="submit",
                    help="run id inside --run-dir (stable id = resumable)")
    ap.add_argument("--no-simhash", action="store_true")
    ap.add_argument("--containment", action="store_true")
    ap.add_argument(
        "--containment-mode", choices=["prefix", "general", "general_sa"],
        default="prefix",
        help="prefix = lossless equi-join pass only; general/general_sa also "
             "run the complete prefix+interior pass (JVM instr / per-outer "
             "suffix-array verify) and write containment_pairs",
    )
    ap.add_argument(
        "--cluster-edges", default="",
        help="comma list of EXTRA cluster edge sources (containment,simhash) "
             "to union into connected components — the reference's "
             "merge_references fold-into-container semantics; default: those "
             "passes stay separate signals.  With --prior-state the "
             "result equals a batch run with the same sources",
    )
    ap.add_argument("--prior-state", default=None,
                    help="state dir of an earlier run (its --output) to fold "
                         "--input into as a delta")
    ap.add_argument("--prior-turns", default=None,
                    help="previously ingested turn rows (parquet) — required "
                         "when the delta appends turns to conversations "
                         "already in --prior-state (retract-and-resign)")
    ap.add_argument("--make-zip", action="store_true",
                    help="write bibexpy_spark.zip for --py-files and exit")
    ap.add_argument("--bench-json", default=None,
                    help="write a scaling-leg JSON (cores, n_turns, wall_s, "
                         "n_clusters) for tools/submit_scaling.py: the wall "
                         "covers the pipeline DAG plus all output writes, "
                         "after a python-worker warmup (session-fixed cost, "
                         "paid once per executor on a real cluster)")
    args = ap.parse_args(argv)

    if args.make_zip:
        print(make_pyfiles_zip())
        return
    if not args.input or not args.output:
        ap.error("--input and --output are required (or use --make-zip)")

    from bibexpy_spark.incremental import check_pass_options
    from bibexpy_spark.lineage import RunContext, input_token_for_paths, local_path

    edges = tuple(e for e in args.cluster_edges.split(",") if e)
    try:
        check_pass_options(
            edges, args.containment, not args.no_simhash, args.containment_mode
        )
    except ValueError as e:
        ap.error(str(e))
    if args.prior_turns and not args.prior_state:
        ap.error("--prior-turns needs --prior-state (the state its "
                 "conversations were clustered into)")

    # refuse in-place state updates: a commit over the run's own prior
    # state replaces it, so the delta could no longer be rerun against the
    # state it was folded into.  Daily increments must write a fresh
    # directory per run (docstring: out1 -> out2).
    def _norm(p: str) -> str:
        # a file:// scheme names the same local path realpath sees —
        # strip it first so mixed forms (--output file:///x/out vs
        # --prior-state /x/out) cannot evade the guard
        p = local_path(p)
        return p.rstrip("/") if "://" in p else os.path.realpath(p)

    out_n = _norm(args.output)
    for flag, path in [("--prior-state", args.prior_state),
                       ("--prior-turns", args.prior_turns)]:
        p_n = _norm(path) if path else None
        if p_n and (p_n == out_n or p_n.startswith(out_n + "/")
                    or out_n.startswith(p_n + "/")):
            ap.error(f"{flag} {path!r} overlaps --output "
                     f"{args.output!r}: the commit would replace the "
                     "prior state this run folds into — each delta run "
                     "must write a fresh output directory")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("bibexpy_dedup").getOrCreate()

    from bibexpy_spark import incremental
    from bibexpy_spark.config import CANONICAL

    turns = (
        spark.table(args.input) if args.table else spark.read.parquet(args.input)
    )
    run = None
    if args.run_dir:
        # plan-shaping flags ride the freshness token: a stage manifest is
        # only fresh when config, inputs AND flag set all match — otherwise a
        # resume after toggling e.g. --no-simhash would wrongly skip the
        # sign stage whose output schema the toggle changed.  The input is
        # tokened by the files its scan reads, so a --table run sees a
        # rewritten table as it sees a rewritten parquet --input.  The prior
        # state and turns are inputs too, so a bootstrap run and a delta
        # over the same --input never share a stage.
        flag_token = (
            f"|simhash={int(not args.no_simhash)}"
            f"|contain={int(args.containment)}:{args.containment_mode}"
            f"|edges={','.join(sorted(edges))}"
        )
        priors = [p for p in (args.prior_state, args.prior_turns) if p]
        token = input_token_for_paths(*turns.inputFiles(), *priors) + flag_token
        run = RunContext(
            spark, cfg=CANONICAL, warehouse=args.run_dir,
            run_id=args.run_id, input_token=token,
        )

    t_bench = None
    if args.bench_json:
        import time

        from bibexpy_spark.session import warm_python_workers

        n_turns_bench = turns.count()
        warm_python_workers(spark, spark.sparkContext.defaultParallelism)
        t_bench = time.time()

    # one pass: against the prior state when given (the next state is
    # signed = old ∪ new, pair tables = prior-minus-resigned ∪ delta, so
    # daily increments compose without re-reading the corpus), else a batch
    try:
        prior = (incremental.read_state(spark, args.prior_state)
                 if args.prior_state else None)
        res, state = incremental.fold_state(
            spark, turns, prior, cfg=CANONICAL,
            prior_turns=(spark.read.parquet(args.prior_turns)
                         if args.prior_turns else None),
            with_containment=args.containment,
            with_simhash_pass=not args.no_simhash,
            containment_mode=args.containment_mode,
            extra_cluster_edges=edges,
            run=run,
        )
    except ValueError as e:
        ap.error(f"--prior-state {args.prior_state}: {e}"
                 if args.prior_state else str(e))
    state["cluster_remap"] = res["cluster_remap"]
    state["dup_edges"] = res["dup_edges_new"]
    n_clusters_bench = None
    wall_compute = None
    if t_bench is not None:
        # compute wall: cluster materialization via countDistinct — the
        # bench legs' exact protocol, through the REAL deployment artifact.
        # clusters is persisted FIRST so the countDistinct materializes the
        # DAG tail into cache and the subsequent output write replays the
        # cache instead of re-executing cluster compute — without this the
        # total wall double-counted the tail and its write term was NOT the
        # near-constant I/O cost it claimed to be (ADVICE r4).  The output
        # writes are still timed separately (wall_s total below): on this
        # single-disk sandbox the write term measures the disk, not the
        # plan, so it stays out of the efficiency ratio.
        import time

        from pyspark.sql import functions as F

        state["clusters"] = state["clusters"].persist()
        n_clusters_bench = state["clusters"].agg(
            F.countDistinct("cluster_id").alias("n")
        ).collect()[0]["n"]
        wall_compute = time.time() - t_bench
    incremental.write_state(args.output, state)
    if t_bench is not None:
        import json
        import time

        wall = time.time() - t_bench
        with open(args.bench_json, "w") as f:
            json.dump(
                {
                    "cores": spark.sparkContext.defaultParallelism,
                    "n_turns": n_turns_bench,
                    "wall_s": round(wall, 2),
                    "wall_compute_s": round(wall_compute, 2),
                    "n_clusters": n_clusters_bench,
                },
                f,
            )
    # the counts observed while the stages ran: no second pass
    print(f"dedup_job: stats {res['stats'].first().asDict()}", file=sys.stderr)
    n = incremental.read_state(spark, args.output)["clusters"].count()
    print(f"dedup_job: wrote {n} cluster assignments to {args.output}",
          file=sys.stderr)
    res["cleanup"]()
    spark.stop()


if __name__ == "__main__":
    main()
