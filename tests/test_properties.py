"""Property-based tests (hypothesis) over the shared kernels — beyond the
reference's example-based suite (SURVEY.md §5 notes it has none)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from bibexpy_spark.config import CANONICAL
from bibexpy_spark.functions import kernels

text_st = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=200,
)


@given(st.lists(text_st, min_size=1, max_size=20))
@settings(max_examples=50, deadline=None)
def test_normalize_idempotent(texts):
    s = pd.Series(texts)
    once = kernels.normalize_text(s, CANONICAL)
    twice = kernels.normalize_text(once, CANONICAL)
    assert once.tolist() == twice.tolist()


@given(st.lists(text_st, min_size=1, max_size=20))
@settings(max_examples=50, deadline=None)
def test_normalize_output_charset(texts):
    out = kernels.normalize_text(pd.Series(texts), CANONICAL)
    for v in out:
        assert all(c.islower() or c.isdigit() or c == " " for c in v), repr(v)
        assert "  " not in v and v == v.strip()


@given(st.lists(st.tuples(text_st, text_st, text_st), min_size=1, max_size=10))
@settings(max_examples=100, deadline=None)
def test_normalize_of_joined_parts_joins_normalized_parts(triples):
    """Normalizing (doc, roles, tools) joined by spaces equals joining the
    non-empty normalized parts: the identity that lets the signing UDF
    build the SimHash feature from the already-normalized doc."""
    joined = kernels.normalize_text(pd.Series([" ".join(t) for t in triples]), CANONICAL)
    parts = [kernels.normalize_text(pd.Series(p), CANONICAL) for p in zip(*triples)]
    want = [" ".join(filter(None, row)) for row in zip(*parts)]
    assert joined.tolist() == want


@given(st.lists(text_st, min_size=1, max_size=16))
@settings(max_examples=30, deadline=None)
def test_shingles_batch_equals_single(texts):
    """Batched flat-window shingling == per-row shingling (no cross-row
    leakage, no batch-order dependence)."""
    s = pd.Series(texts)
    norm = kernels.normalize_text(s, CANONICAL)
    batch = kernels.shingle_sets(norm, CANONICAL)
    for i in range(len(norm)):
        solo = kernels.shingle_sets(norm.iloc[[i]].reset_index(drop=True), CANONICAL)[0]
        assert np.array_equal(batch[i], solo)


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1,
             max_size=200, unique=True),
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1,
             max_size=200, unique=True),
)
@settings(max_examples=50, deadline=None)
def test_jaccard_bounds_and_symmetry(a, b):
    x = np.sort(np.array(a, dtype=np.uint64))
    y = np.sort(np.array(b, dtype=np.uint64))
    j1 = kernels.jaccard(x, y)
    j2 = kernels.jaccard(y, x)
    assert 0.0 <= j1 <= 1.0
    assert j1 == j2
    assert kernels.jaccard(x, x) == 1.0


@given(st.data())
@settings(max_examples=20, deadline=None)
def test_minhash_agreement_tracks_jaccard(data):
    rng_seed = data.draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(rng_seed)
    base = np.unique(rng.integers(0, 2**63, size=300, dtype=np.uint64))
    keep = data.draw(st.integers(min_value=50, max_value=len(base)))
    a = base
    b = np.unique(
        np.concatenate([base[:keep], rng.integers(0, 2**63, size=len(base) - keep,
                                                  dtype=np.uint64)])
    )
    true_j = kernels.jaccard(np.sort(a), np.sort(b))
    sig = kernels.minhash_signatures([np.sort(a), np.sort(b)], CANONICAL)
    est = float((sig[0] == sig[1]).mean())
    # 128 perms: std ~ sqrt(j(1-j)/128) <= 0.045; allow 5 sigma
    assert abs(est - true_j) < 0.25


@given(st.lists(text_st, min_size=2, max_size=10))
@settings(max_examples=30, deadline=None)
def test_simhash_identical_text_identical_hash(texts):
    s = pd.Series(texts + texts)  # duplicates in the same batch
    norm = kernels.normalize_text(s, CANONICAL)
    h = kernels.simhash64(norm, CANONICAL)
    n = len(texts)
    assert np.array_equal(h[:n], h[n:])


@given(st.lists(st.integers(0, 2**62), min_size=5, max_size=60, unique=True))
@settings(max_examples=30, deadline=None)
def test_band_hash_count_and_determinism(vals):
    cfg = CANONICAL
    sets = [np.sort(np.array(vals, dtype=np.uint64))]
    sig = kernels.minhash_signatures(sets, cfg)
    b1 = kernels.band_hashes(sig, cfg)
    b2 = kernels.band_hashes(sig.copy(), cfg)
    assert b1.shape == (1, cfg.bands)
    assert np.array_equal(b1, b2)

