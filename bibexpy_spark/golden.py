"""Independent reference implementations of the engine kernels.

Each function below recomputes one engine kernel (functions/kernels.py)
from its SPEC — seeds and mixing constants are the contract and appear
verbatim; the code paths are deliberately naive (per-row loops,
one-line numpy) so an implementation bug in the engine's blocked/buffered
fast paths cannot be reproduced here.  tests/test_golden_independent.py
checks engine-vs-golden bit-equality for normalization, sha256, shingles,
MinHash, band hashes and SimHash.

This module imports NOTHING from bibexpy_spark.functions (enforced by
tests/test_golden_independent.py): the golden side and the engine may share
specs, never code.
"""

from __future__ import annotations

import hashlib
import re
import unicodedata

import numpy as np
import pandas as pd

from bibexpy_spark.config import CANONICAL, DedupConfig

_M64 = (1 << 64) - 1
# splitmix64 finalizer constants (public domain) — the hash spec
_GMIX1 = 0xBF58476D1CE4E5B9
_GMIX2 = 0x94D049BB133111EB
_GGOLD = 0x9E3779B97F4A7C15


def _g_hash64(s: str) -> int:
    """blake2b(digest_size=8), big-endian — the engine's token/string hash."""
    return int.from_bytes(hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "big")


def _g_mix64(x: int) -> int:
    """Scalar splitmix64 finalizer (python ints, masked to 64 bits)."""
    x = (x + _GGOLD) & _M64
    x = (x ^ (x >> 30)) * _GMIX1 & _M64
    x = (x ^ (x >> 27)) * _GMIX2 & _M64
    return x ^ (x >> 31)


def _g_norm_text(s) -> str:
    """One string through the canonical normalization chain (scalar re/
    unicodedata — the engine does the same chain with pandas .str ops)."""
    t = "" if s is None or (isinstance(s, float) and pd.isna(s)) else str(s)
    t = unicodedata.normalize("NFKD", t)
    t = re.sub(r"[^0-9A-Za-z\s̀-ͯ]", " ", t)
    t = t.encode("ascii", "ignore").decode("ascii")
    t = t.lower()
    t = re.sub(r"[^a-z0-9]+", " ", t)
    return re.sub(r"\s+", " ", t).strip()


def _g_norm_series(texts: pd.Series) -> pd.Series:
    return texts.map(_g_norm_text)


def _g_sha256_series(norm: pd.Series) -> pd.Series:
    return norm.map(lambda s: hashlib.sha256(s.encode("utf-8")).hexdigest())


def _g_shingles(norm: str, k: int) -> np.ndarray:
    """Sorted-unique uint64 word-k-gram hashes of one normalized string:
    combine k consecutive token hashes with the multiply-xor chain, then the
    splitmix64 finalizer.  <k tokens -> one shingle over all tokens; empty ->
    the singleton {hash('')}."""
    toks = norm.split()
    if not toks:
        return np.array([_g_hash64("")], dtype=np.uint64)
    th = [_g_hash64(t) for t in toks]
    if len(th) < k:
        h = th[0]
        for x in th[1:]:
            h = ((h * _GMIX1) & _M64) ^ x
        return np.array([_g_mix64(h)], dtype=np.uint64)
    vals = set()
    for i in range(len(th) - k + 1):
        h = th[i]
        for j in range(1, k):
            h = ((h * _GMIX1) & _M64) ^ th[i + j]
        vals.add(_g_mix64(h))
    return np.array(sorted(vals), dtype=np.uint64)


def _g_shingle_sets(norm: pd.Series, cfg: DedupConfig = CANONICAL) -> list[np.ndarray]:
    return [_g_shingles(s, cfg.shingle_k) for s in norm]


def _g_minhash_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    """The seeded (a, b) multiply-shift parameters — seed + draw order ARE
    the signature spec, reproduced from it verbatim."""
    rng = np.random.default_rng(cfg.minhash_seed)
    a = rng.integers(1, 2**63, size=cfg.num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 2**63, size=cfg.num_perm, dtype=np.uint64)
    return a, b


def _g_signatures(shingles: list[np.ndarray], cfg: DedupConfig) -> np.ndarray:
    """(n, num_perm) uint64 MinHash — one naive broadcast min per row (the
    engine packs rows into reused blocked buffers; this does not)."""
    a, b = _g_minhash_params(cfg)
    sig = np.empty((len(shingles), cfg.num_perm), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i, sh in enumerate(shingles):
            sig[i] = (a[:, None] * sh[None, :] + b[:, None]).min(axis=1)
    return sig


def _g_band_hashes(sig: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """(n, bands) int64 band hashes: fold r signature values + band index
    through the multiply-xor chain and the splitmix64 finalizer."""
    n = sig.shape[0]
    out = np.empty((n, cfg.bands), dtype=np.uint64)
    for i in range(n):
        for bi in range(cfg.bands):
            h = bi + 1
            for j in range(cfg.rows_per_band):
                h = ((h * _GMIX1) & _M64) ^ int(sig[i, bi * cfg.rows_per_band + j])
            out[i, bi] = _g_mix64(h)
    return out.view(np.int64)


def _g_simhash(norm: str) -> int:
    """64-bit SimHash of one normalized string: majority vote per bit over
    the token-occurrence hashes (scalar loop)."""
    toks = norm.split()
    if not toks:
        return 0
    ones = [0] * 64
    for t in toks:
        h = _g_hash64(t)
        for bit in range(64):
            ones[bit] += (h >> bit) & 1
    n = len(toks)
    out = 0
    for bit in range(64):
        if 2 * ones[bit] > n:
            out |= 1 << bit
    return out
