"""spark-submit --py-files scaling pair — the deployment-literal evidence.

Runs the ACTUAL deployment artifact — ``spark-submit --master local[N]
--py-files bibexpy_spark.zip jobs/dedup_job.py --no-simhash`` (no
containment) — at a pair's two parallelism levels in alternating cycles.
The wall is timed INSIDE the job (--bench-json): pipeline DAG plus all
output writes, after the python-worker warmup (session-fixed cost, paid
once per executor on a real cluster).

Phase handling (VERDICT r4 #2): every leg now carries its own host-phase
probe — a CONSTANT no-Spark kernel workload (the signature stage's
normalize→shingle→MinHash over a fixed doc slice) run on a fixed
4-process pool BRACKETING the spark-submit launch (mean of the probes
immediately before and after; the after-probe chains as the next leg's
before-probe).  The bracket estimates the phase the leg actually ran
in — a start-only sample over-corrects when the host flips phase
mid-leg — so the NORMALIZED cycle efficiency

    ((wall_lo / probe_lo) / (wall_hi / probe_hi)) / (hi / lo)

cancels the mid-cycle phase flips that raw paired ratios cannot; its
MEDIAN is the headline claim, not the best cycle.  Fixed worker count
matters: the probe must measure the phase only — a probe scaled with the
leg's cores would cancel the host's own scaling out of the ratio.

Cycle pairing is walk-based over adjacent (lo, hi) launches (parity-free;
see compute_cycles).  Raw cycles and minima stay reported; super-unity
phase-flip cycles are excluded from the best-cycle claim
(bench.paired_best, PHASE_FLIP_TOL).

Usage:  python tools/submit_scaling.py [cycles] [lo] [hi] [corpus_parquet]
Writes data/submit_scaling.json for the legacy (2, 8) pair, else
data/submit_scaling_{lo}_{hi}.json; legs accumulate across sessions for
the same corpus + pair + n_turns.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import classify_stderr, paired_best  # noqa: E402

PROBE_WORKERS = 4   # FIXED across all legs — the probe samples phase, not scaling
PROBE_CHUNKS = 8
PROBE_DOCS = 120_000


def prepare_probe_chunks() -> list[list[str]]:
    """Constant probe workload: a fixed slice of the std bench corpus's
    assembled docs (deterministic generator, seed 43), chunked for the
    pool.  Prepared once per session."""
    import pandas as pd

    from bibexpy_spark import corpus, oracle

    path = corpus.write_parquet(
        os.path.join(REPO, "data", "transcripts_bench.parquet"),
        120_000, seed=43,
    )
    docs = oracle.assemble(pd.read_parquet(path))["doc"].tolist()[:PROBE_DOCS]
    size = (len(docs) + PROBE_CHUNKS - 1) // PROBE_CHUNKS
    return [docs[i: i + size] for i in range(0, len(docs), size)]


def host_probe(chunks: list[list[str]], samples: int = 2) -> float:
    """One probe wall: the host_baseline kernel (same code path as the
    pipeline's signature stage) on a fixed 4-process pool.  Min of
    ``samples`` back-to-back runs — pool startup and scheduler jitter are
    noise on top of the phase signal, and the minimum of two adjacent
    samples estimates the phase the leg is entering better than one.
    Probe SIZE never affects the normalized cycle ratio (probes appear as
    probe_hi/probe_lo within one cycle, so the unit cancels) — it only
    sets the signal-to-noise of the phase sample."""
    import multiprocessing as mp

    from tools.host_baseline import _work

    ctx = mp.get_context("fork")
    walls = []
    for _ in range(samples):
        t0 = time.time()
        with ctx.Pool(PROBE_WORKERS) as pool:
            pool.map(_work, chunks)
        walls.append(time.time() - t0)
    return round(min(walls), 2)


def compute_cycles(
    legs: list[dict], lo: int, hi: int, key: str, normalized: bool = False
) -> list[float]:
    """Per-cycle efficiencies from the accumulated leg list.

    A cycle is an ADJACENT (lo, hi) leg pair in launch order — the
    same-phase premise.  Walk-pairing (not stride-2 indexing): each lo leg
    pairs with the IMMEDIATELY following leg iff that leg is a hi; any leg
    that cannot head a valid pair (failed, wrong cores, missing the wall
    key — or, for the normalized series, missing a probe) is stepped over.
    Stride indexing silently desynchronized after an odd-length prefix
    (r4: three artifact legs removed from the record shifted parity and
    dropped every later cycle); walk-pairing is parity-free and still
    never ratios non-adjacent legs — sessions start on lo, so a dangling
    trailing lo can only be followed by the next session's lo, which does
    not pair.

    ``normalized=True`` divides each wall by its leg's probe_s before
    ratioing — the per-leg phase correction (module docstring)."""
    out = []
    i = 0
    while i < len(legs) - 1:
        a, b = legs[i], legs[i + 1]
        if (
            not a.get("failed") and not b.get("failed")
            and a.get("cores") == lo and b.get("cores") == hi
            and key in a and key in b
            and (not normalized or ("probe_s" in a and "probe_s" in b))
        ):
            if normalized:
                val = ((a[key] / a["probe_s"]) / (b[key] / b["probe_s"])) / (
                    hi / lo
                )
            else:
                val = (a[key] / b[key]) / (hi / lo)
            out.append(round(val, 3))
            i += 2
        else:
            i += 1
    return out


def minima_efficiency(
    legs: list[dict], lo: int, hi: int, key: str
) -> tuple[dict, float | None]:
    """Per-level minimum walls and the minima-based efficiency for one
    wall key, over non-failed legs carrying that key."""
    by_level: dict[int, list[float]] = {lo: [], hi: []}
    for r in legs:
        if not r.get("failed") and key in r and r.get("cores") in by_level:
            by_level[r["cores"]].append(r[key])
    eff = (
        round((min(by_level[lo]) / min(by_level[hi])) / (hi / lo), 3)
        if by_level[lo] and by_level[hi] else None
    )
    return (
        {str(c): (min(v) if v else None) for c, v in by_level.items()},
        eff,
    )


def submit_leg(
    cores: int, zip_path: str, corpus: str, scratch: str, tag: str
) -> tuple[dict | None, str]:
    """One spark-submit leg; returns (bench-json dict, errors)."""
    out_dir = os.path.join(scratch, f"out_{tag}")
    bench_json = os.path.join(scratch, f"leg_{tag}.json")
    err_path = os.path.join(scratch, f"leg_{tag}.stderr")
    shutil.rmtree(out_dir, ignore_errors=True)
    timeout_s = int(os.environ.get("SPARK_GRAFT_LEG_TIMEOUT_S", "1800"))
    cmd = [
        "spark-submit",
        "--master", f"local[{cores}]",
        "--conf", f"spark.sql.shuffle.partitions={cores}",
        "--conf", "spark.driver.memory=48g",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        # the leg-15 guard (VERDICT r4 #3): bound per-batch python-worker
        # memory — see the matching comment in bibexpy_spark/session.py
        "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=4096",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "dedup_job.py"),
        "--input", corpus,
        "--output", out_dir,
        "--no-simhash",
        "--bench-json", bench_json,
    ]
    with open(err_path, "w") as errf:
        proc = subprocess.Popen(
            cmd, stdout=subprocess.DEVNULL, stderr=errf,
            env={**os.environ, "PYTHONPATH": REPO},
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            import signal

            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                proc.kill()
            proc.wait()
            return None, "hang_timeout"
    errors = classify_stderr(err_path)
    if rc != 0:
        return None, (errors + "," if errors != "none" else "") + f"exit:{rc}"
    try:
        return json.load(open(bench_json)), errors
    except (OSError, json.JSONDecodeError):
        return None, errors + ",no_output"


def record_path_for_pair(lo: int, hi: int) -> str:
    """Legacy (2, 8) series keeps its original filename; other pairs get
    their own record so series never co-mingle."""
    name = (
        "submit_scaling.json" if (lo, hi) == (2, 8)
        else f"submit_scaling_{lo}_{hi}.json"
    )
    return os.path.join(REPO, "data", name)


def summarize(
    legs: list[dict], lo: int, hi: int, corpus: str, harness_s: float
) -> dict:
    ok = [r for r in legs if not r.get("failed")]
    n_cl = {r["n_clusters"] for r in ok}
    if len(n_cl) > 1:
        raise SystemExit(
            f"cluster counts diverged across legs: {sorted(n_cl)}"
        )
    cycles_compute = compute_cycles(legs, lo, hi, "wall_compute_s")
    cycles_total = compute_cycles(legs, lo, hi, "wall_s")
    norm_compute = compute_cycles(
        legs, lo, hi, "wall_compute_s", normalized=True
    )
    min_compute, eff_compute = minima_efficiency(legs, lo, hi, "wall_compute_s")
    min_total, eff_total = minima_efficiency(legs, lo, hi, "wall_s")
    return {
        "corpus": os.path.basename(corpus),
        "n_turns": ok[0]["n_turns"] if ok else None,
        "n_clusters": sorted(n_cl)[0] if n_cl else None,
        "pair": [lo, hi],
        "legs": legs,
        "paired_cycles_compute": cycles_compute,
        "paired_best_compute": paired_best(cycles_compute),
        # the headline series: per-leg probe-normalized compute cycles and
        # their MEDIAN (phase-corrected, so the median — not a best cycle —
        # is the defensible capability claim)
        "normalized_cycles_compute": norm_compute,
        "normalized_median_compute": (
            round(statistics.median(norm_compute), 3) if norm_compute else None
        ),
        "normalized_best_compute": paired_best(norm_compute),
        "paired_cycles_total": cycles_total,
        "paired_best_total": paired_best(cycles_total),
        "efficiency_minima_compute": eff_compute,
        "efficiency_minima_total": eff_total,
        "wall_compute_s_min": min_compute,
        "wall_s_min": min_total,
        "total_harness_s": round(harness_s, 1),
        "protocol": (
            "spark-submit --py-files bibexpy_spark.zip jobs/dedup_job.py "
            "--no-simhash; timed inside the job post worker-warmup: "
            "compute wall = cluster materialization (countDistinct over a "
            "persisted clusters table — the bench legs' protocol), total "
            "wall adds all output writes (near-constant single-disk I/O "
            "term in this sandbox); per-leg host probe = constant "
            "normalize+shingle+minhash kernel on a fixed 4-process pool "
            "run immediately before the launch; alternating same-phase "
            "cycles; phase-flip cycles excluded from paired_best"
        ),
    }


def main() -> None:
    cycles = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    corpus = (
        sys.argv[4]
        if len(sys.argv) > 4
        else os.path.join(REPO, "data", "transcripts_bench_xl4.parquet")
    )
    if not os.path.exists(corpus):
        from bibexpy_spark import corpus as corpus_mod

        corpus = corpus_mod.write_parquet(corpus, 480_000, seed=45)

    # per-process scratch: a shared dir let a concurrent re-aggregation run
    # (cycles=0) wipe the zip out from under an in-flight session's legs
    # (observed r4 — the legs died with exit:1 through no fault of the
    # pipeline).  cycles=0 touches no scratch at all.
    scratch = os.path.join(
        REPO, "data", f"scratch_submit_scaling_{os.getpid()}"
    )
    t_start = time.time()
    legs: list[dict] = []
    try:
        if cycles > 0:
            shutil.rmtree(scratch, ignore_errors=True)
            os.makedirs(scratch)
            zip_path = os.path.join(scratch, "bibexpy_spark.zip")
            subprocess.run(
                [sys.executable, os.path.join(REPO, "jobs", "dedup_job.py"),
                 "--make-zip"],
                cwd=scratch, check=True, stdout=subprocess.DEVNULL,
            )
            probe_chunks = prepare_probe_chunks()
            host_probe(probe_chunks)  # warm imports/pool path, untimed

        # BRACKETED probes (r5 refinement after session A's cycle 2: a
        # start-only probe sampled a 2x throttle spike the 12-min leg
        # mostly recovered from, over-correcting the normalized cycle to
        # 0.49 while the raw read 0.984).  Each leg's phase estimate is
        # the MEAN of the probes run immediately before and after it; the
        # after-probe of one leg chains as the before-probe of the next,
        # so a cycle costs three probes, not four.
        prev_probe: float | None = None
        for i in range(cycles):
            for c in (lo, hi):
                tag = f"{i:02d}_{c}"
                p_before = (
                    prev_probe if prev_probe is not None
                    else host_probe(probe_chunks)
                )
                r, errors = submit_leg(c, zip_path, corpus, scratch, tag)
                p_after = host_probe(probe_chunks)
                prev_probe = p_after
                if r is None:
                    print(f"[submit_scaling] leg {tag} FAILED: {errors}",
                          file=sys.stderr)
                    legs.append({"cores": c, "errors": errors, "failed": True})
                    continue
                r["errors"] = errors
                r["probe_before_s"] = p_before
                r["probe_after_s"] = p_after
                r["probe_s"] = round((p_before + p_after) / 2, 2)
                legs.append(r)
                print(json.dumps(r), flush=True)

        # cross-session accumulation (same minima protocol as the main
        # bench record): a prior record for the SAME corpus basename, pair
        # AND corpus size (n_turns — a regenerated corpus at the same path
        # must not co-mingle incomparable walls; ADVICE r4) contributes its
        # legs; all cycle/minima stats recompute from the full leg list.
        # Cycles never pair across a session boundary: every session emits
        # alternating lo,hi legs and compute_cycles walk-pairs adjacently.
        out_path = record_path_for_pair(lo, hi)
        fresh_n_turns = {r["n_turns"] for r in legs if not r.get("failed")}
        if os.path.exists(out_path):
            prior = json.load(open(out_path))
            if (
                prior.get("corpus") == os.path.basename(corpus)
                and prior.get("pair") == [lo, hi]
                and (
                    not fresh_n_turns
                    or prior.get("n_turns") in fresh_n_turns
                )
            ):
                legs = prior["legs"] + legs
            elif fresh_n_turns:
                print(
                    f"[submit_scaling] prior record at {out_path} is for "
                    f"corpus={prior.get('corpus')} pair={prior.get('pair')} "
                    f"n_turns={prior.get('n_turns')} — NOT folding fresh "
                    f"legs (corpus={os.path.basename(corpus)}, "
                    f"pair=[{lo}, {hi}], n_turns={sorted(fresh_n_turns)})",
                    file=sys.stderr,
                )

        try:
            out = summarize(legs, lo, hi, corpus, time.time() - t_start)
        except SystemExit:
            # never discard just-measured legs: quarantine the session's
            # fresh legs before surfacing the divergence (ADVICE r4)
            qpath = os.path.join(
                REPO, "data", f"submit_scaling_quarantine_{os.getpid()}.json"
            )
            with open(qpath, "w") as f:
                json.dump(
                    {"corpus": os.path.basename(corpus), "pair": [lo, hi],
                     "legs": legs[-2 * cycles:] if cycles else legs},
                    f, indent=1,
                )
            print(f"[submit_scaling] fresh legs quarantined to {qpath}",
                  file=sys.stderr)
            raise
        tmp = out_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(out, f, indent=1)
        os.replace(tmp, out_path)
        print(json.dumps(out))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
