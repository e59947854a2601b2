"""Incremental dedup: batch-equivalence contract.

run_incremental_dedup(new_batch, prior_state) must produce EXACTLY the
cluster assignment a full batch run over (old ∪ new) produces — same
labels (min conv_id per component), every row — whenever no band bucket
exceeds hot_band_cap (true at fixture scale; see module docstring for the
star-bucket caveat).
"""

from __future__ import annotations

import importlib.util
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from bibexpy_spark import corpus, incremental, pipeline
from bibexpy_spark.config import CANONICAL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def split_corpus(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("incr") / "turns.parquet")
    corpus.write_parquet(path, 400, seed=99)
    turns = spark.read.parquet(path)
    # deterministic 70/30 split on a stable hash of conv_id; duplicates of
    # old conversations routinely land in the new batch (the interesting case)
    is_new = F.abs(F.xxhash64("conv_id")) % 10 >= 7
    return turns.filter(~is_new).persist(), turns.filter(is_new).persist(), turns


def _cluster_set(df):
    return {(r["conv_id"], r["cluster_id"]) for r in df.collect()}


def test_incremental_equals_full_batch(spark, split_corpus):
    old_turns, new_turns, all_turns = split_corpus

    full = pipeline.run_dedup(
        spark, all_turns, with_containment=False, with_simhash_pass=False
    )
    prior = pipeline.run_dedup(
        spark, old_turns, with_containment=False, with_simhash_pass=False
    )
    incr = incremental.run_incremental_dedup(
        spark, new_turns, prior["signed"], prior["clusters"]
    )

    got = _cluster_set(incr["clusters"])
    want = _cluster_set(full["clusters"])
    assert got == want

    # the delta really is a delta: only new conversations were signed
    n_new = new_turns.select("conv_id").distinct().count()
    assert incr["signed_new"].count() == n_new

    stats = incr["stats"].first().asDict()
    assert stats["n_new"] == n_new
    # the fixture's duplicate classes guarantee cross-batch action
    assert stats["n_cross_exact"] + stats["n_dup_edges"] > 0


def test_incremental_remap_consistency(spark, split_corpus):
    """Every remapped prior cluster points at a label that exists in the
    final assignment, and labels are component minima (label <= members)."""
    old_turns, new_turns, _ = split_corpus
    prior = pipeline.run_dedup(
        spark, old_turns, with_containment=False, with_simhash_pass=False
    )
    incr = incremental.run_incremental_dedup(
        spark, new_turns, prior["signed"], prior["clusters"]
    )
    cl = incr["clusters"]
    assert cl.filter(F.col("cluster_id") > F.col("conv_id")).count() == 0
    labels = {r["cluster_id"] for r in cl.select("cluster_id").distinct().collect()}
    for r in incr["cluster_remap"].collect():
        assert r["cluster_id"] in labels
        assert r["cluster_id"] < r["old_cluster_id"]


def _grown_split(turns):
    """Phase split where the delta GROWS conversations: a subset of old
    conversations holds back its final turn; the delta delivers brand-new
    conversations plus those held-back turns."""
    w = W.partitionBy("conv_id")
    t2 = turns.withColumn("_mx", F.max("turn_idx").over(w))
    is_new_conv = F.abs(F.xxhash64("conv_id")) % 10 >= 8
    is_grown = (~is_new_conv) & (F.abs(F.xxhash64("conv_id", F.lit(1))) % 4 == 0)
    held = is_grown & (F.col("turn_idx") == F.col("_mx")) & (F.col("_mx") > 0)
    old_phase = t2.filter(~is_new_conv & ~held).drop("_mx")
    delta = t2.filter(is_new_conv | held).drop("_mx")
    return old_phase.persist(), delta.persist()


def _state_tables(spark, res, tmp_path, tag):
    """Write a pipeline run's state the way production holds it (tables),
    read it back — the incremental contract's prior_signed/prior_clusters
    are state tables, and table-backed lineage keeps plans shallow."""
    sp = str(tmp_path / f"{tag}_signed")
    cp = str(tmp_path / f"{tag}_clusters")
    res["signed"].write.mode("overwrite").parquet(sp)
    res["clusters"].write.mode("overwrite").parquet(cp)
    return spark.read.parquet(sp), spark.read.parquet(cp)


def test_grown_conversation_delta_equals_batch(spark, split_corpus, tmp_path):
    """Retract-and-resign (VERDICT r3 ask #2): a delta that appends turns to
    already-clustered conversations must reproduce the full-batch clustering
    over the FINAL turn set exactly."""
    _, _, all_turns = split_corpus
    old_phase, delta = _grown_split(all_turns)
    try:
        prior = pipeline.run_dedup(
            spark, old_phase, with_containment=False, with_simhash_pass=False
        )
        prior_s, prior_c = _state_tables(spark, prior, tmp_path, "g")
        incr = incremental.run_incremental_dedup(
            spark, delta, prior_s, prior_c,
            prior_turns=old_phase,
        )
        full = pipeline.run_dedup(
            spark, all_turns, with_containment=False, with_simhash_pass=False
        )
        assert _cluster_set(incr["clusters"]) == _cluster_set(full["clusters"])

        stats = incr["stats"].first().asDict()
        # the split genuinely exercised the grown path
        n_grown = (
            delta.select("conv_id").distinct()
            .join(old_phase.select("conv_id").distinct(), "conv_id", "left_semi")
            .count()
        )
        assert n_grown > 0
        assert stats["n_retracted_clusters"] > 0
        # signed_new covers every delta conversation exactly once
        # (grown ones re-signed over the merged turn set)
        assert incr["signed_new"].count() == delta.select("conv_id").distinct().count()
        # the re-signed signature matches a fresh full-batch signing: the
        # grown conversations' final clustering above already implies it
        incr["cleanup"]()
    finally:
        old_phase.unpersist()
        delta.unpersist()


def test_grown_turn_edit_latest_wins(spark, split_corpus, tmp_path):
    """A delta that RE-DELIVERS an existing (conv_id, turn_idx) with new text
    overrides the prior row (latest-wins), matching a batch run over the
    edited turn set."""
    old_turns, _, _ = split_corpus
    edited = (
        old_turns.filter(F.abs(F.xxhash64("conv_id")) % 5 == 0)
        .filter(F.col("turn_idx") == 0)
        .withColumn("text", F.concat(F.col("text"), F.lit(" edited tail marker")))
    ).persist()
    assert edited.count() > 0
    prior = pipeline.run_dedup(
        spark, old_turns, with_containment=False, with_simhash_pass=False
    )
    prior_s, prior_c = _state_tables(spark, prior, tmp_path, "e")
    incr = incremental.run_incremental_dedup(
        spark, edited, prior_s, prior_c, prior_turns=old_turns
    )
    final_turns = (
        old_turns.join(
            edited.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti"
        )
        .select(*old_turns.columns)
        .unionByName(edited)
    )
    full = pipeline.run_dedup(
        spark, final_turns, with_containment=False, with_simhash_pass=False
    )
    assert _cluster_set(incr["clusters"]) == _cluster_set(full["clusters"])
    edited.unpersist()


def _pairset(df, cols):
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


def test_incremental_contain_simhash_equals_batch(spark, split_corpus, tmp_path):
    """VERDICT r3 ask #5: the incremental mode extended to the contain and
    fuzzy (SimHash) passes.  With a GROWN delta (the hardest shape):

        prior_pairs minus pairs touching resigned ids ∪ delta_pairs
            == batch pass over the final corpus

    for both pair sets, while cluster equivalence still holds."""
    _, _, all_turns = split_corpus
    old_phase, delta = _grown_split(all_turns)
    try:
        full = pipeline.run_dedup(
            spark, all_turns, with_containment=True, with_simhash_pass=True
        )
        prior = pipeline.run_dedup(
            spark, old_phase, with_containment=True, with_simhash_pass=True
        )
        prior_s, prior_c = _state_tables(spark, prior, tmp_path, "cs")
        incr = incremental.run_incremental_dedup(
            spark, delta, prior_s, prior_c, prior_turns=old_phase,
            with_containment=True, with_simhash_pass=True,
        )
        assert _cluster_set(incr["clusters"]) == _cluster_set(full["clusters"])

        resigned = {r["conv_id"] for r in incr["resigned_prior_ids"].collect()}
        assert resigned, "split produced no grown conversations"
        delta_ids = {
            r["conv_id"] for r in delta.select("conv_id").distinct().collect()
        }

        for prior_key, delta_key, full_key, cols in (
            ("containment_prefix", "containment_prefix_new",
             "containment_prefix", ["inner_id", "outer_id"]),
            ("simhash_pairs", "simhash_pairs_new",
             "simhash_pairs", ["a_id", "b_id", "hamming"]),
        ):
            p_prior = {
                t for t in _pairset(prior[prior_key], cols)
                if t[0] not in resigned and t[1] not in resigned
            }
            p_delta = _pairset(incr[delta_key], cols)
            p_full = _pairset(full[full_key], cols)
            assert p_prior | p_delta == p_full, delta_key
            # the delta output really is a delta: every pair touches a
            # delta conversation
            assert all(
                t[0] in delta_ids or t[1] in delta_ids for t in p_delta
            ), delta_key
        incr["cleanup"]()
    finally:
        old_phase.unpersist()
        delta.unpersist()


def test_grown_without_prior_turns_raises(spark, split_corpus):
    """Contract guard: a grown delta without prior_turns must fail loudly,
    never enter a second same-conv_id row (silent corruption)."""
    old_turns, _, _ = split_corpus
    prior = pipeline.run_dedup(
        spark, old_turns, with_containment=False, with_simhash_pass=False
    )
    regrown = old_turns.limit(50)
    with pytest.raises(ValueError, match="prior_turns"):
        incremental.run_incremental_dedup(
            spark, regrown, prior["signed"], prior["clusters"]
        )


def test_incremental_empty_delta_is_identity(spark, split_corpus):
    old_turns, _, _ = split_corpus
    prior = pipeline.run_dedup(
        spark, old_turns, with_containment=False, with_simhash_pass=False
    )
    empty = old_turns.filter(F.lit(False))
    incr = incremental.run_incremental_dedup(
        spark, empty, prior["signed"], prior["clusters"]
    )
    assert incr["cluster_remap"].count() == 0
    assert _cluster_set(incr["clusters"]) == _cluster_set(prior["clusters"])


def test_incremental_extra_edges_equals_batch(spark, split_corpus, tmp_path):
    """Capstone: extra_cluster_edges in INCREMENTAL mode, grown delta, equals
    the batch run folding the same sources.  The three edge legs compose:
    quiet-cluster connectivity rides the contracted prior super-nodes, pairs
    touching dissolved clusters come from the maintained prior pair state,
    >=1-new-endpoint pairs from the delta ops."""
    _, _, all_turns = split_corpus
    old_phase, delta = _grown_split(all_turns)
    EDGES = ("containment", "simhash")
    kw = dict(
        with_containment=True, with_simhash_pass=True, containment_mode="general"
    )
    try:
        full = pipeline.run_dedup(
            spark, all_turns, extra_cluster_edges=EDGES, **kw
        )
        prior = pipeline.run_dedup(
            spark, old_phase, extra_cluster_edges=EDGES, **kw
        )
        prior_s, prior_c = _state_tables(spark, prior, tmp_path, "xe")
        # the maintained pair state, normalized the way the job/stream would
        # union their state tables
        psp = str(tmp_path / "xe_pairs")
        prior["containment_pairs"].select(
            F.col("inner_id").alias("a_id"), F.col("outer_id").alias("b_id")
        ).unionByName(
            prior["simhash_pairs"].select("a_id", "b_id")
        ).write.mode("overwrite").parquet(psp)

        incr = incremental.run_incremental_dedup(
            spark, delta, prior_s, prior_c, prior_turns=old_phase,
            extra_cluster_edges=EDGES,
            prior_extra_pairs=spark.read.parquet(psp),
            **kw,
        )
        assert _cluster_set(incr["clusters"]) == _cluster_set(full["clusters"])
        # the fold genuinely coarsens vs the no-extra-edges run (otherwise
        # this test proves nothing about the extra legs)
        plain = pipeline.run_dedup(
            spark, all_turns, with_containment=False, with_simhash_pass=False
        )
        n_plain = plain["clusters"].select("cluster_id").distinct().count()
        n_fold = full["clusters"].select("cluster_id").distinct().count()
        assert n_fold < n_plain
        incr["cleanup"]()
    finally:
        old_phase.unpersist()
        delta.unpersist()


def test_incremental_extra_edges_grown_requires_pair_state(
    spark, split_corpus, tmp_path
):
    """A grown delta dissolves clusters; without the maintained pair state
    their surviving extra edges are unrecoverable — must fail loudly."""
    _, _, all_turns = split_corpus
    old_phase, delta = _grown_split(all_turns)
    try:
        prior = pipeline.run_dedup(
            spark, old_phase, with_containment=True, with_simhash_pass=False
        )
        prior_s, prior_c = _state_tables(spark, prior, tmp_path, "xr")
        with pytest.raises(ValueError, match="prior_extra_pairs"):
            incremental.run_incremental_dedup(
                spark, delta, prior_s, prior_c, prior_turns=old_phase,
                with_containment=True,
                extra_cluster_edges=("containment",),
            )
    finally:
        old_phase.unpersist()
        delta.unpersist()


def test_purely_new_delta_defensive_prior_turns_no_pair_state_needed(
    spark, split_corpus, tmp_path
):
    """A delta of ONLY new conversations dissolves no cluster, so the
    maintained pair state is legitimately unused — passing prior_turns
    defensively (the docstring recommends it) must not trip the
    prior_extra_pairs requirement.  Regression: `carried` used to become an
    empty-but-not-None frame whenever prior_turns was supplied, spuriously
    raising ValueError on a perfectly valid call."""
    old_turns, new_turns, all_turns = split_corpus
    EDGES = ("containment",)
    kw = dict(
        with_containment=True, with_simhash_pass=False,
        containment_mode="prefix",
    )
    prior = pipeline.run_dedup(spark, old_turns, extra_cluster_edges=EDGES, **kw)
    prior_s, prior_c = _state_tables(spark, prior, tmp_path, "pn")
    incr = incremental.run_incremental_dedup(
        spark, new_turns, prior_s, prior_c, prior_turns=old_turns,
        extra_cluster_edges=EDGES, prior_extra_pairs=None, **kw,
    )
    full = pipeline.run_dedup(spark, all_turns, extra_cluster_edges=EDGES, **kw)
    assert _cluster_set(incr["clusters"]) == _cluster_set(full["clusters"])
    incr["cleanup"]()


def test_prior_signed_without_prior_clusters_raises(spark, split_corpus):
    """prior_signed without prior_clusters must fail loudly: the emitted
    'clusters' would silently omit every quiet old conversation (r4
    review; mirrors the prior_turns guard)."""
    old_turns, new_turns, _ = split_corpus
    prior = pipeline.run_dedup(
        spark, old_turns, with_containment=False, with_simhash_pass=False
    )
    with pytest.raises(ValueError, match="without prior_clusters"):
        incremental.run_incremental_dedup(
            spark, new_turns, prior["signed"], None
        )


def _load_job():
    spec = importlib.util.spec_from_file_location(
        "dedup_job_in_process", os.path.join(REPO, "jobs", "dedup_job.py")
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def test_fold_state_refuses_incomplete_prior_state(
    spark, split_corpus, tmp_path, capsys
):
    """fold_state checks the whole state layout before it computes anything:
    a prior state written without an enabled pass's pair table, or whose
    signed/ lacks a column an enabled pass reads, raises; read_state raises
    on a state whose manifest names a missing table, or with no manifest at
    all — composing against it would truncate the next state.
    ``dedup_job.py`` turns each refusal into exit code 2 naming the state."""
    old_turns, new_turns, _ = split_corpus
    kw = dict(with_containment=True, with_simhash_pass=False,
              containment_mode="prefix")
    state = str(tmp_path / "state")
    incremental.write_state(state, incremental.fold_state(spark, old_turns, None, **kw)[1])
    written = sorted(incremental.read_state(spark, state))
    assert written == ["clusters", "containment_prefix", "signed"]
    job = _load_job()
    delta, out = str(tmp_path / "delta"), str(tmp_path / "out")
    new_turns.write.parquet(delta)

    def fold(**over):
        prior = incremental.read_state(spark, state)
        return incremental.fold_state(spark, new_turns, prior, **{**kw, **over})

    def job_refusal(*flags):
        # exit code 2 before anything is written under --output
        with pytest.raises(SystemExit) as exit_info:
            job.main(["--input", delta, "--output", out, "--prior-state", state,
                      "--containment", "--no-simhash", *flags])
        assert exit_info.value.code == 2
        assert not os.path.exists(out)
        return capsys.readouterr().err

    with pytest.raises(ValueError, match="no containment_pairs/ table"):
        fold(containment_mode="general")
    assert f"--prior-state {state}: prior state has no containment_pairs/ table" \
        in job_refusal("--containment-mode", "general")
    with pytest.raises(ValueError, match="no simhash_pairs/ table"):
        fold(with_simhash_pass=True)
    assert sorted(incremental.read_state(spark, state)) == written
    # the pair table exists, but signed/ was written without the pass
    incremental.write_state(state, {
        **incremental.read_state(spark, state),
        "simhash_pairs": spark.createDataFrame([], "a_id string, b_id string, hamming int"),
    })
    with pytest.raises(ValueError, match="signed/ lacks \\['simhash'\\]"):
        fold(with_simhash_pass=True)
    # a table the manifest names was deleted after the commit
    shutil.rmtree(os.path.join(
        state, incremental.read_manifest(spark, state)["tables"]["simhash_pairs"]))
    with pytest.raises(ValueError, match="simhash_pairs, which is missing"):
        fold()
    assert "simhash_pairs, which is missing" in job_refusal()
    # the state never committed
    shutil.rmtree(os.path.join(state, "_state"))
    assert f"state {state!r} has no manifest" in job_refusal()


def test_job_relaunch_dying_mid_write_keeps_the_committed_state(
    spark, split_corpus, tmp_path, monkeypatch, crash
):
    """Regression: a job run into an --output that holds a committed state,
    dying after its first table write, must not leave a state that mixes
    the two runs' tables.  A later fold over that directory either raises
    or reads the complete first state: here it folds into the first run's
    conversations only."""
    from pyspark.sql import SparkSession

    _, _, all_turns = split_corpus
    part = F.abs(F.xxhash64("conv_id")) % 3
    x_p, y_p = str(tmp_path / "x"), str(tmp_path / "y")
    all_turns.filter(part == 0).write.parquet(x_p)
    all_turns.filter(part == 1).write.parquet(y_p)
    z_turns = all_turns.filter(part == 2)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    job, out = _load_job(), str(tmp_path / "out")
    job.main(["--input", x_p, "--output", out, "--no-simhash"])
    with crash(after_writes=1), pytest.raises(RuntimeError, match="injected crash"):
        job.main(["--input", y_p, "--output", out, "--no-simhash"])

    try:
        res, state = incremental.fold_state(
            spark, z_turns, incremental.read_state(spark, out))
    except ValueError:
        return
    x_turns = spark.read.parquet(x_p)
    want_ids = {r["conv_id"] for r in x_turns.unionByName(z_turns).select("conv_id").collect()}
    assert {r["conv_id"] for r in state["signed"].collect()} == want_ids
    full = pipeline.run_dedup(spark, x_turns.unionByName(z_turns),
                              with_containment=False, with_simhash_pass=False)
    assert _cluster_set(state["clusters"]) == _cluster_set(full["clusters"])
    res["cleanup"]()
    full["cleanup"]()


def test_job_commit_survives_crash_at_every_point(
    spark, split_corpus, tmp_path, monkeypatch, crash
):
    """The job's one commit under fault injection.  A crash after any table
    write or before the manifest leaves --output's committed state in
    force, and a relaunch completes; a crash after the manifest, before
    garbage collection, has committed, and the next commit removes the
    garbage.  Every relaunch equals the batch run over the union."""
    from pyspark.sql import SparkSession

    old_turns, new_turns, all_turns = split_corpus
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    old_turns.write.parquet(old_p)
    new_turns.write.parquet(new_p)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    job = _load_job()
    prior, out = str(tmp_path / "prior"), str(tmp_path / "out")
    job.main(["--input", old_p, "--output", prior, "--no-simhash"])
    job.main(["--input", old_p, "--output", out, "--no-simhash"])
    argv = ["--input", new_p, "--prior-state", prior, "--output", out, "--no-simhash"]
    full = pipeline.run_dedup(spark, all_turns, with_containment=False,
                              with_simhash_pass=False)
    want = _cluster_set(full["clusters"])
    full["cleanup"]()

    def committed():
        manifest = incremental.read_manifest(spark, out)
        return manifest, _cluster_set(incremental.read_state(spark, out)["clusters"])

    # the job commits signed, clusters, cluster_remap and dup_edges; the
    # last point is after the last table, before the manifest
    for point in ({"after_writes": 1}, {"after_writes": 2}, {"after_writes": 3},
                  {"step": "_commit_manifest"}):
        before = committed()
        with crash(**point), pytest.raises(RuntimeError, match="injected crash"):
            job.main(argv)
        assert committed() == before, point
        assert len(os.listdir(os.path.join(out, "gen"))) == 2, point
        job.main(argv)
        manifest, clusters = committed()
        assert manifest["generation"] == before[0]["generation"] + 1
        assert clusters == want, point
        assert len(os.listdir(os.path.join(out, "gen"))) == 1, point

    with crash(step="_collect_garbage"), pytest.raises(RuntimeError, match="injected crash"):
        job.main(argv)
    assert committed()[1] == want
    assert len(os.listdir(os.path.join(out, "gen"))) == 2  # the previous one
    job.main(argv)
    assert committed()[1] == want
    assert len(os.listdir(os.path.join(out, "gen"))) == 1


def test_stats_are_the_observed_stage_counts(spark, split_corpus, tmp_path, spark_jobs):
    """``stats`` holds the counts observed while the stages ran: reading it
    after the outputs are written starts no Spark job, and each value
    equals a count taken directly from the returned frames."""
    old_turns, new_turns, _ = split_corpus
    prior = pipeline.run_dedup(
        spark, old_turns, with_containment=False, with_simhash_pass=False
    )
    prior_s, prior_c = _state_tables(spark, prior, tmp_path, "st")
    incr = incremental.run_incremental_dedup(spark, new_turns, prior_s, prior_c)
    for key in ("clusters", "cluster_remap"):
        incr[key].write.parquet(str(tmp_path / key))

    stats, jobs = spark_jobs(lambda: incr["stats"].first().asDict())
    assert jobs == []

    signed_new = incr["signed_new"]
    old_shas = prior_s.select("content_sha").distinct()
    unmatched = signed_new.join(old_shas, "content_sha", "left_anti")
    assert stats == {
        "n_new": signed_new.count(),
        "n_cross_exact": signed_new.join(old_shas, "content_sha", "left_semi").count(),
        "n_new_reps": unmatched.select("content_sha").distinct().count(),
        "n_candidates": incr["candidate_pairs"].count(),
        "n_dup_edges": incr["dup_edges_new"].count(),
        "n_merged_prior_clusters": incr["cluster_remap"].count(),
        "n_carried": 0,
        "n_retracted_clusters": 0,
    }
    assert stats["n_cross_exact"] > 0 and stats["n_dup_edges"] > 0
    incr["cleanup"]()


def test_outputs_read_stored_stages(spark, split_corpus, tmp_path):
    """``clusters`` and ``cluster_remap`` are built from the stored stages
    and the prior state: their executed plans run no Python UDF and never
    scan the delta turns again."""
    old_turns, new_turns, _ = split_corpus
    prior = pipeline.run_dedup(
        spark, old_turns, with_containment=False, with_simhash_pass=False
    )
    prior_s, prior_c = _state_tables(spark, prior, tmp_path, "so")
    delta_path = str(tmp_path / "delta_turns_input")
    new_turns.write.parquet(delta_path)
    incr = incremental.run_incremental_dedup(
        spark, spark.read.parquet(delta_path), prior_s, prior_c
    )
    for key in ("clusters", "cluster_remap"):
        plan = incr[key]._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, key
        assert "delta_turns_input" not in plan, key
    assert incr["cluster_remap"].count() > 0
    incr["cleanup"]()


def test_zero_candidate_delta_skips_verify(spark, split_corpus, tmp_path):
    """A delta whose new conversation shares no band bucket with any prior
    rep yields no candidate pair, so ``verify`` is not run: the dup edges
    are the stored empty candidate frame's endpoints, ``metrics.jsonl`` has
    no ``verify`` row, and the clusters still equal the batch run over the
    union.  A relaunch with the same run skips every stage that ran."""
    from datetime import datetime

    from bibexpy_spark.lineage import RunContext

    old_turns, _, _ = split_corpus
    novel = spark.createDataFrame(
        [("z_novel", i, "user" if i % 2 == 0 else "assistant",
          " ".join(f"zq{i}w{j}x" for j in range(40)), None, datetime(2026, 1, 1))
         for i in range(4)],
        old_turns.schema,
    )
    prior = pipeline.run_dedup(
        spark, old_turns, with_containment=False, with_simhash_pass=False
    )
    prior_s, prior_c = _state_tables(spark, prior, tmp_path, "zc")
    prior["cleanup"]()

    def delta_run() -> RunContext:
        return RunContext(spark, CANONICAL, str(tmp_path / "wh"), run_id="zero",
                          input_token="t")

    run = delta_run()
    incr = incremental.run_incremental_dedup(spark, novel, prior_s, prior_c, run=run)
    assert incr["dup_edges_new"].columns == ["a_id", "b_id"]
    assert incr["dup_edges_new"].count() == 0
    stats = incr["stats"].first().asDict()
    assert stats["n_candidates"] == stats["n_dup_edges"] == 0
    full = pipeline.run_dedup(
        spark, old_turns.unionByName(novel),
        with_containment=False, with_simhash_pass=False,
    )
    assert _cluster_set(incr["clusters"]) == _cluster_set(full["clusters"])
    full["cleanup"]()
    ran = [m["stage"] for m in run.metrics if not m.get("skipped")]
    assert "candidates" in ran and "verify" not in ran
    run.close()

    rerun = delta_run()
    again = incremental.run_incremental_dedup(spark, novel, prior_s, prior_c, run=rerun)
    assert [m["stage"] for m in rerun.metrics if m.get("skipped")] == ran
    assert again["dup_edges_new"].count() == 0
    assert _cluster_set(again["clusters"]) == _cluster_set(incr["clusters"])


def test_delta_pass_job_budget(spark, split_corpus, tmp_path, spark_jobs):
    """The delta pass plus its ``clusters`` and ``cluster_remap`` writes
    runs at most 39 Spark jobs, the count measured once ``exact_edges``
    became one aggregate, ``reps`` one aggregate and a semi-join, and
    ``clusters`` a filter over the stored ``cluster`` stage (44 before).  A
    stage or output that starts recomputing shows up here."""
    old_turns, new_turns, _ = split_corpus
    prior = pipeline.run_dedup(
        spark, old_turns, with_containment=False, with_simhash_pass=False
    )
    prior_s, prior_c = _state_tables(spark, prior, tmp_path, "jb")
    prior["cleanup"]()

    def delta_pass():
        incr = incremental.run_incremental_dedup(spark, new_turns, prior_s, prior_c)
        for key in ("clusters", "cluster_remap"):
            incr[key].write.parquet(str(tmp_path / key))
        return incr

    incr, jobs = spark_jobs(delta_pass)
    incr["cleanup"]()
    assert len(jobs) <= 39, jobs


def test_batch_pass_job_budget(spark, split_corpus, tmp_path, spark_jobs):
    """A batch pass shaped like the benchmark's (containment and SimHash
    on, a RunContext, four output writes) runs at most 41 Spark jobs, the
    count measured when ``contain_prefix`` took 4 of them.  A stage or
    output that starts recomputing shows up here."""
    from bibexpy_spark.lineage import RunContext

    _, _, turns = split_corpus

    def batch_pass():
        run = RunContext(spark, cfg=CANONICAL, warehouse=str(tmp_path / "wh"))
        try:
            res = pipeline.run_dedup(
                spark, turns, run=run, with_containment=True, with_simhash_pass=True
            )
            for key in ("clusters", "dup_edges", "containment_prefix", "simhash_pairs"):
                res[key].write.parquet(str(tmp_path / key))
        finally:
            run.close()

    _, jobs = spark_jobs(batch_pass)
    assert len(jobs) <= 41, jobs


def test_job_releases_its_stages(spark, split_corpus, tmp_path, monkeypatch):
    """``dedup_job.py`` without ``--run-dir`` holds its stages in memory;
    ``main`` releases them once the state is committed, so an in-process
    caller's session keeps no RDD the job persisted."""
    from pyspark.sql import SparkSession

    old_turns, _, _ = split_corpus
    input_p = str(tmp_path / "turns")
    old_turns.write.parquet(input_p)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    jsc = spark.sparkContext._jsc
    held = set(jsc.getPersistentRDDs().keySet())
    _load_job().main(["--input", input_p, "--output", str(tmp_path / "out"), "--no-simhash"])
    assert not set(jsc.getPersistentRDDs().keySet()) - held
