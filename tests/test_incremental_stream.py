"""Streaming incremental dedup: micro-batch chain == one full batch run."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bibexpy_spark import corpus, pipeline
from bibexpy_spark.streaming import incremental_stream as istream


def test_stream_of_deltas_equals_full_batch(spark, tmp_path):
    """Drop the fixture corpus as THREE delta files into a stream source,
    fold them with maxFilesPerTrigger=1 (one micro-batch per file), and the
    final state clustering must equal the full-batch pipeline exactly."""
    src = tmp_path / "feed"
    src.mkdir()
    state = str(tmp_path / "state")

    all_path = corpus.corpus_path_for_sf("/root/testdata/sf0.001")
    turns = spark.read.parquet(all_path)
    bucket = F.abs(F.xxhash64("conv_id")) % 3
    for i in range(3):
        turns.filter(bucket == i).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"part{i}")
        )
    # move one parquet file per delta into the feed dir (stable order)
    import glob
    import shutil

    for i in range(3):
        f = glob.glob(str(tmp_path / f"part{i}" / "part-*.parquet"))[0]
        shutil.copy(f, str(src / f"delta_{i}.parquet"))

    q = istream.foreach_batch_incremental_dedup(
        spark, str(src), state, max_files_per_trigger=1
    )
    q.awaitTermination(300)

    got = {
        (r["conv_id"], r["cluster_id"])
        for r in spark.read.parquet(os.path.join(state, "clusters")).collect()
    }
    full = pipeline.run_dedup(
        spark, turns, with_containment=False, with_simhash_pass=False
    )
    want = {(r["conv_id"], r["cluster_id"]) for r in full["clusters"].collect()}
    assert got == want

    n_state = spark.read.parquet(os.path.join(state, "signed")).count()
    assert n_state == turns.select("conv_id").distinct().count()
    # remap audit exists when later deltas merged earlier clusters
    if os.path.exists(os.path.join(state, "remaps")):
        remaps = spark.read.parquet(os.path.join(state, "remaps"))
        assert {"batch_id", "old_cluster_id", "cluster_id"} <= set(remaps.columns)


def test_stream_pair_state_equals_batch_passes(spark, tmp_path):
    """With the optional passes on, the streamed pair state after the last
    micro-batch equals the batch pipeline's containment/SimHash outputs
    over everything ingested (composition: prior minus resigned ∪ delta)."""
    src = tmp_path / "feed"
    src.mkdir()
    state = str(tmp_path / "state")

    all_path = corpus.corpus_path_for_sf("/root/testdata/sf0.001")
    turns = spark.read.parquet(all_path)
    bucket = F.abs(F.xxhash64("conv_id")) % 2
    import glob
    import shutil

    for i in range(2):
        turns.filter(bucket == i).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"part{i}")
        )
        f = glob.glob(str(tmp_path / f"part{i}" / "part-*.parquet"))[0]
        shutil.copy(f, str(src / f"delta_{i}.parquet"))

    q = istream.foreach_batch_incremental_dedup(
        spark, str(src), state, max_files_per_trigger=1,
        with_containment=True, with_simhash_pass=True,
        containment_mode="general",
    )
    q.awaitTermination(300)

    full = pipeline.run_dedup(
        spark, turns, with_containment=True, with_simhash_pass=True,
        containment_mode="general",
    )
    for subdir, key, cols in [
        ("containment_prefix", "containment_prefix", ["inner_id", "outer_id"]),
        ("containment_pairs", "containment_pairs", ["inner_id", "outer_id", "pos"]),
        ("simhash_pairs", "simhash_pairs", ["a_id", "b_id", "hamming"]),
    ]:
        got = {
            tuple(r[c] for c in cols)
            for r in spark.read.parquet(os.path.join(state, subdir)).collect()
        }
        want = {tuple(r[c] for c in cols) for r in full[key].select(*cols).collect()}
        assert got == want, f"{subdir}: streamed state != batch pass"
    # signed state carries the pass columns for the next delta
    sig_cols = set(spark.read.parquet(os.path.join(state, "signed")).columns)
    assert {"norm_text", "simhash"} <= sig_cols


def test_stream_extra_edges_equals_batch(spark, tmp_path):
    """A micro-batch chain folding containment edges (feeding its own
    maintained pair state back per batch) ends at exactly the clustering of
    one batch run with the same edge sources."""
    src = tmp_path / "feed"
    src.mkdir()
    state = str(tmp_path / "state")

    all_path = corpus.corpus_path_for_sf("/root/testdata/sf0.001")
    turns = spark.read.parquet(all_path)
    bucket = F.abs(F.xxhash64("conv_id")) % 2
    import glob
    import shutil

    for i in range(2):
        turns.filter(bucket == i).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"part{i}")
        )
        f = glob.glob(str(tmp_path / f"part{i}" / "part-*.parquet"))[0]
        shutil.copy(f, str(src / f"delta_{i}.parquet"))

    q = istream.foreach_batch_incremental_dedup(
        spark, str(src), state, max_files_per_trigger=1,
        with_containment=True, containment_mode="general",
        extra_cluster_edges=("containment",),
    )
    q.awaitTermination(300)

    full = pipeline.run_dedup(
        spark, turns, with_containment=True, with_simhash_pass=False,
        containment_mode="general", extra_cluster_edges=("containment",),
    )
    got = {
        (r["conv_id"], r["cluster_id"])
        for r in spark.read.parquet(os.path.join(state, "clusters")).collect()
    }
    want = {(r["conv_id"], r["cluster_id"]) for r in full["clusters"].collect()}
    assert got == want


def test_stream_restart_with_missing_pair_table_fails(spark, tmp_path):
    """A stream restarted with containment_mode="general" over state written
    in "prefix" mode has no containment_pairs/ to compose against: the batch
    must fail before staging anything, not write a pair table built from
    the delta's pairs alone (which silently loses every earlier pair)."""
    src = tmp_path / "feed"
    src.mkdir()
    state = str(tmp_path / "state")

    all_path = corpus.corpus_path_for_sf("sf0.001")
    turns = spark.read.parquet(all_path)
    bucket = F.abs(F.xxhash64("conv_id")) % 2
    import glob
    import shutil

    for i in range(2):
        turns.filter(bucket == i).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"part{i}")
        )

    def drop(i):
        f = glob.glob(str(tmp_path / f"part{i}" / "part-*.parquet"))[0]
        shutil.copy(f, str(src / f"delta_{i}.parquet"))

    drop(0)
    istream.foreach_batch_incremental_dedup(
        spark, str(src), state, max_files_per_trigger=1,
        with_containment=True, containment_mode="prefix",
    ).awaitTermination(300)
    assert os.path.exists(os.path.join(state, "containment_prefix"))

    drop(1)
    q = istream.foreach_batch_incremental_dedup(
        spark, str(src), state, max_files_per_trigger=1,
        with_containment=True, containment_mode="general",
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="no containment_pairs/ table"):
        q.awaitTermination(300)
    assert not os.path.exists(os.path.join(state, "containment_pairs"))
    assert not os.path.exists(os.path.join(state, "containment_pairs.tmp"))


def test_recover_pending_swap_rolls_forward(spark, tmp_path):
    """Crash-atomicity of the multi-table state swap (r4 review): a crash
    BETWEEN the per-table commits leaves the write-ahead intent on disk;
    recovery must complete the remaining commits, fold the staged remap
    delta, write the batch's committed marker (so its checkpoint replay
    no-ops), and remove the intent — never leaving mixed old/new state."""
    import json

    state = str(tmp_path / "state")
    os.makedirs(state)
    clusters_p = os.path.join(state, "clusters")
    signed_p = os.path.join(state, "signed")
    turns_p = os.path.join(state, "turns")

    old = spark.createDataFrame([("c1", "OLD")], "conv_id string, v string")
    new = spark.createDataFrame([("c1", "NEW"), ("c2", "NEW")],
                                "conv_id string, v string")
    for p in (clusters_p, signed_p, turns_p):
        old.write.mode("overwrite").parquet(p)
        new.write.mode("overwrite").parquet(p + ".tmp")

    # simulate the crash: intent published, ONE table already committed
    with open(os.path.join(state, "_swap_intent.tmp"), "w") as fh:
        json.dump({"batch_id": 7, "paths": [clusters_p, signed_p, turns_p]}, fh)
    os.replace(os.path.join(state, "_swap_intent.tmp"),
               os.path.join(state, "_swap_intent"))
    istream._commit(clusters_p)  # crash happened right after this one
    remap_tmp = os.path.join(state, "_remap_delta_7")
    spark.createDataFrame([("x", "y")], "old_cluster_id string, cluster_id string") \
        .coalesce(1).write.mode("overwrite").parquet(remap_tmp)

    assert istream.recover_pending_swap(state) is True

    for p in (clusters_p, signed_p, turns_p):
        rows = {r["v"] for r in spark.read.parquet(p).collect()}
        assert rows == {"NEW"}, p
        assert not os.path.exists(p + ".tmp")
    assert not os.path.exists(os.path.join(state, "_swap_intent"))
    assert os.path.exists(os.path.join(state, "_committed", "7"))
    assert not os.path.exists(remap_tmp)
    remap_files = os.listdir(os.path.join(state, "remaps"))
    assert any(f.startswith("batch7-") for f in remap_files)
    # idempotent: a second call is a no-op
    assert istream.recover_pending_swap(state) is False


def test_stream_refuses_signed_state_without_turns(spark, tmp_path):
    """A state dir with signed/ but no turns/ (pre-turn-tracking layout)
    must fail LOUDLY at the first batch instead of silently seeding a
    partial turns state — a later grown conversation from before the gap
    would otherwise re-sign over an incomplete turn set without tripping
    the no-prior-turns guard (r4 review)."""
    src = tmp_path / "feed"
    src.mkdir()
    state = str(tmp_path / "state")

    all_path = corpus.corpus_path_for_sf("/root/testdata/sf0.001")
    turns = spark.read.parquet(all_path)
    keep = F.abs(F.xxhash64("conv_id")) % 10
    turns.filter(keep == 0).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "d0")
    )
    import glob
    import shutil

    shutil.copy(
        glob.glob(str(tmp_path / "d0" / "part-*.parquet"))[0],
        str(src / "delta_0.parquet"),
    )
    # forge the legacy layout: signed/ + clusters/ present, turns/ absent
    from bibexpy_spark import incremental as inc

    res = inc.run_incremental_dedup(
        spark, turns.filter(keep == 1), None, None
    )
    os.makedirs(state, exist_ok=True)
    res["signed_new"].write.parquet(os.path.join(state, "signed"))
    res["clusters"].write.parquet(os.path.join(state, "clusters"))
    res["cleanup"]()

    q = istream.foreach_batch_incremental_dedup(
        spark, str(src), state, max_files_per_trigger=1
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="no turns/"):
        q.awaitTermination(300)


def test_ckpt_identity_guard(tmp_path):
    """_committed markers belong to ONE checkpoint lifetime: replacing
    _ckpt while keeping the state tables restarts batch numbering, so the
    stale markers would silently skip new batches — the guard must refuse
    (r4 review).  Pure-filesystem unit test."""
    import json

    from bibexpy_spark.streaming.incremental_stream import _check_ckpt_identity

    state = str(tmp_path / "state")
    marker_dir = os.path.join(state, "_committed")
    meta_dir = os.path.join(state, "_ckpt")
    os.makedirs(meta_dir)
    # no metadata yet -> no-op
    _check_ckpt_identity(state, marker_dir)
    json.dump({"id": "q-1"}, open(os.path.join(meta_dir, "metadata"), "w"))
    _check_ckpt_identity(state, marker_dir)      # records q-1
    assert open(os.path.join(marker_dir, "_ckpt_id")).read() == "q-1"
    _check_ckpt_identity(state, marker_dir)      # same id: fine
    json.dump({"id": "q-2"}, open(os.path.join(meta_dir, "metadata"), "w"))
    with pytest.raises(ValueError, match="reset or replaced"):
        _check_ckpt_identity(state, marker_dir)


def test_simhash_cap_crossing_divergence_is_bounded_superset(spark):
    """VERDICT r4 'what's missing' #2 pinned: a chunk bucket CROSSING
    hot_chunk_cap between batches makes the composed pair state diverge
    from a fresh batch run (operators/simhash.py:180-184).  The blast
    radius is exactly this, no worse: (a) the state is a SUPERSET of the
    batch pairs — nothing is ever lost; (b) every extra pair is a genuine
    within-radius pair captured while the bucket was sub-cap (Hamming-
    verified true positives, strictly closer to ground truth than the
    batch star); (c) the crossing is surfaced by the observed
    ``hot_chunk_buckets`` counter, (d) which counts the buckets even when
    no pair survives the Hamming verify."""
    from dataclasses import replace

    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.incremental import compose_pair_state
    from bibexpy_spark.lineage import Counters
    from bibexpy_spark.operators import simhash as sh

    cfg = replace(CANONICAL, hot_chunk_cap=3)
    h = 0x1234ABCD5678EF00
    old = spark.createDataFrame(
        [("a1", h), ("a2", h), ("a3", h)], "conv_id string, simhash long")
    new = spark.createDataFrame(
        [("b1", h), ("b2", h)], "conv_id string, simhash long")

    prior = sh.simhash_pairs(old, cfg)          # bucket of 3 <= cap: all pairs
    prior_set = {(r["a_id"], r["b_id"]) for r in prior.collect()}
    assert prior_set == {("a1", "a2"), ("a1", "a3"), ("a2", "a3")}

    delta = sh.simhash_pairs(new, cfg, old)     # bucket now 5 > cap: star
    resigned = spark.createDataFrame([], "conv_id string")
    composed = compose_pair_state(prior, delta, resigned, "a_id", "b_id")
    chunk_counts = Counters("hot_chunk_buckets", "active_chunk_buckets")
    batch = sh.simhash_pairs(
        old.unionByName(new), cfg, bucket_counts=chunk_counts
    ).localCheckpoint(eager=True)

    comp = {(r["a_id"], r["b_id"]) for r in composed.collect()}
    bat = {(r["a_id"], r["b_id"]) for r in batch.collect()}
    # fresh batch = star on the min-id rep only
    assert bat == {("a1", x) for x in ("a2", "a3", "b1", "b2")}
    # (a) superset: the composed state never loses a batch pair
    assert bat <= comp
    # (b) the extras are exactly the sub-cap-era intra-bucket pairs, all
    # previously Hamming-verified
    assert comp - bat == {("a2", "a3")} and comp - bat <= prior_set
    # (c) never-silent: the crossing shows in the counter the batch pass
    # observed (all five rows share every chunk)
    assert chunk_counts.get == {
        "hot_chunk_buckets": cfg.simhash_chunks,
        "active_chunk_buckets": cfg.simhash_chunks,
    }
    # (d) ... also when no bucket pair passes the verify: two rows share
    # only chunk 0 at Hamming distance 47, so the pass yields nothing and
    # adaptive execution drops the observed bucket aggregate
    far = spark.createDataFrame(
        [("c1", 0x1234), ("c2", 0x7FFF_FFFF_FFFF_1234)], "conv_id string, simhash long"
    )
    far_counts = Counters("hot_chunk_buckets", "active_chunk_buckets")
    assert sh.simhash_pairs(far, cfg, bucket_counts=far_counts).collect() == []
    assert far_counts.get == {"hot_chunk_buckets": 0, "active_chunk_buckets": 1}


def test_containment_df_cap_crossing_divergence_is_bounded_superset(spark):
    """The containment analogue (the equality boundary in
    containment.general_containment_pairs' docstring): a
    shingle whose document frequency crosses max_shingle_freq between
    batches hides a previously captured interior pair from a fresh batch
    run — the composed state keeps the backend-verified true pair
    (superset side), and the crossing is surfaced by the observed
    ``hot_shingles`` counter."""
    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.incremental import compose_pair_state
    from bibexpy_spark.lineage import Counters
    from bibexpy_spark.operators import containment as ct

    schema = "conv_id string, norm_text string, shingles array<long>"
    # i1 sits INSIDE o1 (interior position — the prefix leg, which is
    # lossless and cap-free, must not be the one to find it)
    old = spark.createDataFrame(
        [("i1", "abcdef", [1, 2, 3]),
         ("o1", "xx abcdef yy", [1, 2, 3, 4, 5])], schema)
    # each new row carries ALL of i1's shingles -> their df crosses the cap
    new = spark.createDataFrame(
        [(f"n{j}", f"zzz hot filler {j}", [1, 2, 3, 900 + j])
         for j in range(3)], schema)
    cap = 3

    prior = ct.general_containment_pairs(old, CANONICAL, max_shingle_freq=cap)
    prior_set = {(r["inner_id"], r["outer_id"]) for r in prior.collect()}
    assert prior_set == {("i1", "o1")}          # captured while df=2 <= 3

    delta = ct.general_containment_pairs(
        new, CANONICAL, old, max_shingle_freq=cap)
    resigned = spark.createDataFrame([], "conv_id string")
    composed = compose_pair_state(
        prior, delta, resigned, "inner_id", "outer_id")
    shingle_counts = Counters("hot_shingles", "indexed_shingles")
    batch = ct.general_containment_pairs(
        old.unionByName(new), CANONICAL, max_shingle_freq=cap,
        shingle_counts=shingle_counts,
    ).localCheckpoint(eager=True)

    bat = {(r["inner_id"], r["outer_id"]) for r in batch.collect()}
    comp = {(r["inner_id"], r["outer_id"]) for r in composed.collect()}
    # the fresh batch LOSES the pair (every shared shingle now hot); the
    # composed state keeps the verified true pair — superset divergence
    assert ("i1", "o1") not in bat
    assert bat <= comp and ("i1", "o1") in comp
    # never-silent: the counter the batch pass observed shows the crossing
    # (shingles 1-3 sit in 5 rows, above the cap of 3)
    assert shingle_counts.get == {"hot_shingles": 3, "indexed_shingles": 8}
