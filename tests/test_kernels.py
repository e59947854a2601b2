"""Unit tests for the shared kernels — reference-style minimal micro-fixtures
(mirrors the reference's _rec() pattern, apps/api/tests/test_smart_merge.py:19-30).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from bibexpy_spark.config import CANONICAL, DedupConfig
from bibexpy_spark.functions import kernels


def test_normalize_unicode_fold():
    s = pd.Series(["Café  NAÏVE—test", "  hello   world  ", None])
    out = kernels.normalize_text(s, CANONICAL)
    assert out[0] == "cafe naive test"
    assert out[1] == "hello world"
    assert out[2] == ""


def test_shingles_hand_computable():
    cfg = DedupConfig(shingle_k=2)
    s = pd.Series(["a b c", "a b c", "c b a"])
    sets = kernels.shingle_sets(s, cfg)
    # identical text -> identical shingle set
    assert np.array_equal(sets[0], sets[1])
    # reversed text -> different shingles
    assert not np.array_equal(sets[0], sets[2])
    # "a b c" with k=2 -> {h(a b), h(b c)}
    assert len(sets[0]) == 2


def test_shingles_short_and_empty_rows():
    cfg = DedupConfig(shingle_k=5)
    sets = kernels.shingle_sets(pd.Series(["one two", ""]), cfg)
    assert len(sets[0]) == 1        # fewer than k tokens -> one combined shingle
    assert len(sets[1]) == 1        # empty -> singleton sentinel
    assert sets[1][0] == kernels._EMPTY_SHINGLE


def test_shingles_batch_row_boundaries():
    """Flat-window shingling must not leak shingles across row boundaries."""
    cfg = DedupConfig(shingle_k=2)
    joint = kernels.shingle_sets(pd.Series(["a b", "c d"]), cfg)
    solo_ab = kernels.shingle_sets(pd.Series(["a b"]), cfg)[0]
    solo_cd = kernels.shingle_sets(pd.Series(["c d"]), cfg)[0]
    assert np.array_equal(joint[0], solo_ab)
    assert np.array_equal(joint[1], solo_cd)
    # the cross-boundary shingle "b c" must not appear anywhere
    cross = kernels.shingle_sets(pd.Series(["b c"]), cfg)[0]
    assert cross[0] not in set(joint[0]) | set(joint[1])


def test_minhash_identical_sets_identical_signatures():
    cfg = CANONICAL
    sets = kernels.shingle_sets(pd.Series(["x y z w v u t s", "x y z w v u t s"]), cfg)
    sig = kernels.minhash_signatures(sets, cfg)
    assert np.array_equal(sig[0], sig[1])


def test_minhash_similarity_estimate():
    """MinHash agreement rate approximates Jaccard."""
    rng = np.random.default_rng(7)
    base = rng.integers(0, 2**63, size=200, dtype=np.uint64)
    a = np.unique(base)
    b = np.unique(np.concatenate([base[:180], rng.integers(0, 2**63, 20, dtype=np.uint64)]))
    true_j = kernels.jaccard(np.sort(a), np.sort(b))
    sig = kernels.minhash_signatures([np.sort(a), np.sort(b)], CANONICAL)
    est = (sig[0] == sig[1]).mean()
    assert abs(est - true_j) < 0.15


def test_band_hashes_structure():
    cfg = CANONICAL
    sets = kernels.shingle_sets(pd.Series(["p q r s t u v w x y z"]), cfg)
    sig = kernels.minhash_signatures(sets, cfg)
    bh = kernels.band_hashes(sig, cfg)
    assert bh.shape == (1, cfg.bands)
    # same value in two different bands must hash differently (band idx mixed in)
    sig2 = np.zeros((1, cfg.num_perm), dtype=np.uint64)
    bh2 = kernels.band_hashes(sig2, cfg)
    assert len(np.unique(bh2)) == cfg.bands


def test_band_agreement_iff_row_agreement():
    cfg = DedupConfig(bands=2, rows_per_band=4)
    sig_a = np.arange(8, dtype=np.uint64).reshape(1, 8)
    sig_b = sig_a.copy()
    sig_b[0, 7] += 1  # disturb last row of band 1 only
    bh = kernels.band_hashes(np.vstack([sig_a, sig_b]), cfg)
    assert bh[0, 0] == bh[1, 0]
    assert bh[0, 1] != bh[1, 1]


def test_simhash_distance_ordering():
    cfg = CANONICAL
    texts = pd.Series([
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",   # identical
        "alpha beta gamma delta epsilon zeta eta theta iota lambda",  # 1 token off
        "completely different words entirely unrelated content here now",
    ])
    h = kernels.simhash64(kernels.normalize_text(texts, cfg), cfg)
    d_same = kernels.hamming64(h[0:1], h[1:2])[0]
    d_near = kernels.hamming64(h[0:1], h[2:3])[0]
    d_far = kernels.hamming64(h[0:1], h[3:4])[0]
    assert d_same == 0
    assert d_near <= d_far


def test_simhash_chunk_pigeonhole(spark):
    """The SimHash pass's chunk explode: two hashes at Hamming distance 3,
    one flipped bit in each of the first three 16-bit chunks, agree on the
    fourth — the equi-join key that finds the pair.  The high bit is set,
    so the chunks need unsigned shifts."""
    from bibexpy_spark.operators import simhash

    cfg = CANONICAL
    flips = (1 << 0) | (1 << 16) | (1 << 32)
    df = spark.createDataFrame(
        [("a", -1), ("b", -1 ^ flips)], "conv_id string, simhash long"
    )
    chunks = {
        (r["conv_id"], r["chunk_idx"]): r["chunk_val"]
        for r in simhash._chunked(df, cfg, "conv_id").collect()
    }
    assert len(chunks) == 2 * cfg.simhash_chunks
    agree = [
        i for i in range(cfg.simhash_chunks) if chunks["a", i] == chunks["b", i]
    ]
    assert agree == [3]
    assert chunks["a", 3] == 0xFFFF


def test_jaccard_exact():
    a = np.array([1, 2, 3, 4], dtype=np.uint64)
    b = np.array([3, 4, 5, 6], dtype=np.uint64)
    assert kernels.jaccard(a, b) == pytest.approx(2 / 6)
    assert kernels.jaccard(a, a) == 1.0


def test_count_duplicate_turn_keys(spark, tmp_path):
    """(conv_id, turn_idx) keys appearing more than once are counted on the
    ``sign`` stage, in its metrics.jsonl row and its manifest, for a batch
    run and for a delta run."""
    import json

    from bibexpy_spark import incremental, pipeline
    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.lineage import RunContext

    rows = [("c1", 0, "u", "a", "", None), ("c1", 0, "u", "b", "", None),
            ("c1", 0, "u", "e", "", None), ("c1", 1, "u", "c", "", None),
            ("c2", 0, "u", "d", "", None)]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    df = spark.createDataFrame(rows, schema)
    prior_df = spark.createDataFrame([("c0", 0, "u", "z", "", None)], schema)

    def sign_counts(run):
        row = next(r for r in run.metrics if r["stage"] == "sign")
        with open(os.path.join(run.run_dir, "sign.manifest.json")) as f:
            manifest = json.load(f)
        return row["duplicate_turn_keys"], manifest["observed"]["duplicate_turn_keys"]

    wh = str(tmp_path / "wh")
    batch = RunContext(spark, CANONICAL, wh, run_id="batch", input_token="t")
    pipeline.run_dedup(spark, df, run=batch)
    assert sign_counts(batch) == (1, 1)

    prior = pipeline.run_dedup(spark, prior_df)
    delta = RunContext(spark, CANONICAL, wh, run_id="delta", input_token="t")
    incremental.run_incremental_dedup(
        spark, df, prior["signed"], prior["clusters"], run=delta
    )
    assert sign_counts(delta) == (1, 1)
    prior["cleanup"]()


def test_config_rejects_nonpositive_prefix_tokens():
    """containment_prefix_tokens < 1 would collapse every prefix key to ''
    and pair every empty doc with every doc (r4 review)."""
    import pytest

    with pytest.raises(ValueError, match="containment_prefix_tokens"):
        DedupConfig(containment_prefix_tokens=0)
