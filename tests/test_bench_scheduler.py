"""Helpers behind the scaling evidence (no Spark): the Spark stderr
taxonomy, the paired-cycle estimator and tools/submit_scaling's cycle
math.

The host throttles in multi-minute phases; interleaved legs, probe
normalization and the exclusion of phase-flip cycles are what turn noisy
walls into a defensible estimate.  These tests pin that logic down without
spawning a single JVM.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_classify_stderr_taxonomy(tmp_path):
    cases = {
        "none": "ordinary INFO lines\nnothing interesting\n",
        "task_retry": "WARN TaskSetManager: Lost task 3.0 in stage 7.0 (TID 9)\n",
        "oom": "java.lang.OutOfMemoryError: Java heap space\n",
        "dag_stack": "at org.apache.spark.scheduler.DAGScheduler"
                     ".handleTaskCompletion(DAGScheduler.scala:2070)\n",
    }
    for expect, text in cases.items():
        p = tmp_path / f"{expect}.err"
        p.write_text(text)
        got = bench.classify_stderr(str(p))
        assert expect in got if expect != "none" else got == "none", (expect, got)


def test_paired_best_excludes_phase_flip_cycles():
    """A paired cycle above PHASE_FLIP_TOL broke the shared-phase
    assumption mid-leg (throttled lo / clean hi -> spurious superlinear
    ratio, observed live as a 1.351 '2->8 cycle' in r4c3 cycle 8).  It
    must stay listed in paired_cycles as evidence but never become the
    best-cycle capability claim (tools/submit_scaling's summary applies it
    in test_submit_scaling_probe_normalized_cycles_and_median)."""
    assert bench.paired_best([0.7, 1.351, 0.853]) == 0.853
    assert bench.paired_best([1.007]) == 1.007       # noise-level >1 kept
    assert bench.paired_best([1.351]) is None        # all cycles flipped


def test_submit_scaling_cycle_pairing_guards():
    """tools/submit_scaling evidence math: a failed leg keeps its slot so
    later cycles stay aligned; mixed-format legs (pre compute/total split)
    contribute only to the total-wall series; the minima walls skip failed
    and keyless legs."""
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from submit_scaling import compute_cycles, minima_efficiency

    legs = [
        # old-format cycle (total wall only)
        {"cores": 2, "wall_s": 280.0, "n_clusters": 9},
        {"cores": 8, "wall_s": 100.0, "n_clusters": 9},
        # new-format clean cycle
        {"cores": 2, "wall_s": 260.0, "wall_compute_s": 240.0, "n_clusters": 9},
        {"cores": 8, "wall_s": 84.0, "wall_compute_s": 75.0, "n_clusters": 9},
        # failed hi leg: its lo mate must NOT pair with the next cycle's hi
        {"cores": 2, "wall_s": 250.0, "wall_compute_s": 230.0, "n_clusters": 9},
        {"cores": 8, "errors": "hang_timeout", "failed": True},
        # trailing clean cycle after the failure
        {"cores": 2, "wall_s": 270.0, "wall_compute_s": 250.0, "n_clusters": 9},
        {"cores": 8, "wall_s": 90.0, "wall_compute_s": 80.0, "n_clusters": 9},
    ]
    assert compute_cycles(legs, 2, 8, "wall_compute_s") == [0.8, 0.781]
    assert compute_cycles(legs, 2, 8, "wall_s") == [0.7, 0.774, 0.75]
    walls, eff = minima_efficiency(legs, 2, 8, "wall_compute_s")
    assert walls == {"2": 230.0, "8": 75.0}
    assert eff == 0.767
    walls_t, eff_t = minima_efficiency(legs, 2, 8, "wall_s")
    assert walls_t == {"2": 250.0, "8": 84.0}
    # removing a slot entirely must not desynchronize later cycles
    # (r4 regression: stride-2 indexing dropped every cycle after an
    # odd-length prefix); walk-pairing recovers the adjacent (lo, hi)
    # launch pairs and never fabricates a non-adjacent one
    dropped = legs[:5] + legs[6:]  # failed slot removed entirely
    assert compute_cycles(dropped, 2, 8, "wall_compute_s") == [0.8, 0.781]
    # lo followed by lo never pairs
    assert compute_cycles(
        [{"cores": 2, "wall_s": 100.0}, {"cores": 2, "wall_s": 90.0},
         {"cores": 8, "wall_s": 30.0}], 2, 8, "wall_s"
    ) == [0.75]


def test_submit_scaling_probe_normalized_cycles_and_median():
    """r5: each submit leg carries probe_s (constant fixed-pool host
    kernel); the normalized cycle divides each wall by its probe before
    ratioing, cancelling mid-cycle throttle flips.  Probe-less legacy legs
    contribute only to the raw series; the median of normalized cycles is
    the headline."""
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    import importlib

    import submit_scaling as ss
    importlib.reload(ss)

    legs = [
        # legacy probe-less cycle (raw only)
        {"cores": 1, "wall_compute_s": 400.0, "wall_s": 420.0, "n_clusters": 9,
         "n_turns": 100},
        {"cores": 4, "wall_compute_s": 110.0, "wall_s": 125.0, "n_clusters": 9,
         "n_turns": 100},
        # probed clean cycle: probes equal -> normalized == raw
        {"cores": 1, "wall_compute_s": 380.0, "wall_s": 400.0, "probe_s": 10.0,
         "n_clusters": 9, "n_turns": 100},
        {"cores": 4, "wall_compute_s": 100.0, "wall_s": 115.0, "probe_s": 10.0,
         "n_clusters": 9, "n_turns": 100},
        # phase-flip cycle: lo ran 2x-throttled (probe 20 vs 10) -> raw eff
        # inflates to ~1.6, normalization folds it back to 0.8
        {"cores": 1, "wall_compute_s": 640.0, "wall_s": 660.0, "probe_s": 20.0,
         "n_clusters": 9, "n_turns": 100},
        {"cores": 4, "wall_compute_s": 100.0, "wall_s": 115.0, "probe_s": 10.0,
         "n_clusters": 9, "n_turns": 100},
    ]
    raw = ss.compute_cycles(legs, 1, 4, "wall_compute_s")
    assert raw == [
        pytest.approx(400.0 / 110.0 / 4, abs=1e-3),
        pytest.approx(380.0 / 100.0 / 4, abs=1e-3),
        pytest.approx(640.0 / 100.0 / 4, abs=1e-3),
    ]
    norm = ss.compute_cycles(legs, 1, 4, "wall_compute_s", normalized=True)
    assert norm == [
        pytest.approx(380.0 / 100.0 / 4, abs=1e-3),   # probes cancel
        pytest.approx((640.0 / 20.0) / (100.0 / 10.0) / 4, abs=1e-3),  # 0.8
    ]
    out = ss.summarize(legs, 1, 4, "c.parquet", 1.0)
    assert out["normalized_cycles_compute"] == norm
    assert out["normalized_median_compute"] == pytest.approx(
        (norm[0] + norm[1]) / 2, abs=1e-3)
    # raw phase-flip cycle (1.6) excluded from raw paired_best
    assert out["paired_best_compute"] == raw[1]


def test_submit_scaling_record_path_and_divergence():
    """Per-pair record files (legacy [2,8] keeps its name) and the
    cluster-divergence guard raising before any record write."""
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    import submit_scaling as ss

    assert ss.record_path_for_pair(2, 8).endswith("/submit_scaling.json")
    assert ss.record_path_for_pair(1, 4).endswith("/submit_scaling_1_4.json")
    legs = [
        {"cores": 1, "wall_s": 10.0, "n_clusters": 9, "n_turns": 100},
        {"cores": 4, "wall_s": 3.0, "n_clusters": 11, "n_turns": 100},
    ]
    with pytest.raises(SystemExit, match="diverged"):
        ss.summarize(legs, 1, 4, "c.parquet", 1.0)
