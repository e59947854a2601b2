"""Vectorized text/dedup kernels shared by the Spark pandas UDFs and the
brute-force oracle.

Everything here is pandas/numpy batch code — no per-row Python in the hot
path (BASELINE.json ``input_hint``).  The Spark side wraps these functions in
Arrow-batched pandas UDFs (functions/udfs.py); the oracle (oracle.py) calls
them directly on the whole corpus.  Sharing the kernel is what guarantees the
pipeline reproduces the oracle's cluster assignments exactly at the same
config (BASELINE.json ``north_rule``).

Reference semantics generalized here:
  * normalization — normalize_title (reference smart_merger.py:113-127):
    unicode NFKD->ASCII fold, lowercase, punctuation->space, collapse
    whitespace (stopwords are kept);
  * staged exact-before-fuzzy — content hash (reference Stage 1 DOI equality,
    smart_merger.py:253-265) becomes sha256 of the normalized text;
  * blocking — reference blocks on (year, surname[0]) (smart_merger.py:185-198);
    here the block key is the LSH band hash over MinHash signatures.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from bibexpy_spark.config import DedupConfig

# 64-bit mixing constants (splitmix64 finalizer; public-domain constants).
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_U64 = np.uint64


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over a uint64 array (in place on a
    copy; all temporaries reuse one scratch buffer)."""
    out = x.copy()
    tmp = np.empty_like(out)
    with np.errstate(over="ignore"):
        np.add(out, _GOLDEN, out=out)
        np.right_shift(out, _U64(30), out=tmp)
        np.bitwise_xor(out, tmp, out=out)
        np.multiply(out, _MIX1, out=out)
        np.right_shift(out, _U64(27), out=tmp)
        np.bitwise_xor(out, tmp, out=out)
        np.multiply(out, _MIX2, out=out)
        np.right_shift(out, _U64(31), out=tmp)
        np.bitwise_xor(out, tmp, out=out)
    return out


def hash_str_u64(s: str) -> int:
    """Stable 64-bit hash of one string (blake2b, digest_size=8)."""
    return int.from_bytes(hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "big")


# ---------------------------------------------------------------------------
# normalization
# ---------------------------------------------------------------------------

def normalize_text(texts: pd.Series, cfg: DedupConfig) -> pd.Series:
    """Vectorized canonical normalization (pandas .str ops, one pass each).

    Mirrors the reference's normalize_title chain (fold -> lower -> punct ->
    whitespace) but over arbitrary transcript text.  The chain is fixed;
    ``cfg`` is taken only so every kernel has the same (data, cfg) call.
    """
    s = texts.fillna("").astype(str)
    # NFKD, space out symbols/punctuation (keeping combining marks,
    # U+0300-036F, so accents still fold onto their base letter), then
    # drop the marks via ASCII encode — all C-level pandas str ops.
    s = s.str.normalize("NFKD")
    s = s.str.replace("[^0-9A-Za-z\\s\\u0300-\\u036f]", " ", regex=True)
    s = s.str.encode("ascii", "ignore").str.decode("ascii")
    s = s.str.lower()
    s = s.str.replace(r"[^a-z0-9]+", " ", regex=True)
    return s.str.replace(r"\s+", " ", regex=True).str.strip()


# ---------------------------------------------------------------------------
# tokenization -> flat token-hash representation
# ---------------------------------------------------------------------------

def _flat_token_hashes(norm_texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Tokenize a batch and hash every token.

    Returns ``(flat, offsets)`` where ``flat`` is the uint64 hash of every
    token of every row concatenated, and ``offsets[i]:offsets[i+1]`` slices
    row i's tokens.  Token hashing is vocabulary-deduplicated: factorize the
    flat token array (C-level) and blake2b only the unique tokens.
    """
    token_lists = norm_texts.str.split()
    counts = np.fromiter((len(t) if isinstance(t, list) else 0 for t in token_lists),
                         dtype=np.int64, count=len(token_lists))
    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    total = int(offsets[-1])
    if total == 0:
        return np.empty(0, dtype=np.uint64), offsets
    flat_tokens = np.empty(total, dtype=object)
    pos = 0
    for t in token_lists:
        if isinstance(t, list) and t:
            flat_tokens[pos:pos + len(t)] = t
            pos += len(t)
    codes, uniques = pd.factorize(flat_tokens)
    uhash = np.fromiter((hash_str_u64(u) for u in uniques), dtype=np.uint64, count=len(uniques))
    return uhash[codes], offsets


_EMPTY_SHINGLE = np.uint64(hash_str_u64(""))


def shingle_sets(norm_texts: pd.Series, cfg: DedupConfig) -> list[np.ndarray]:
    """Per-row sorted-unique uint64 k-shingle hashes (word k-grams,
    ``k = cfg.shingle_k``).

    A shingle hash combines k consecutive token hashes with a multiply-xor
    chain (vectorized over the whole batch at once via flat windows).  Rows
    with fewer than k tokens contribute one shingle combining all their
    tokens; empty rows get the singleton {hash("")} so no set is ever empty.
    """
    k = cfg.shingle_k
    flat, offsets = _flat_token_hashes(norm_texts)
    n = len(offsets) - 1
    total = len(flat)

    # combined hash for every flat window start (may cross row boundaries;
    # invalid starts are filtered by per-row slicing below); in-place ops
    # into one buffer (allocation churn is expensive on this platform)
    if total >= k:
        with np.errstate(over="ignore"):
            acc = flat[: total - k + 1].copy()
            for j in range(1, k):
                np.multiply(acc, _MIX1, out=acc)
                np.bitwise_xor(acc, flat[j: total - k + 1 + j], out=acc)
            acc = _splitmix64(acc)
    else:
        acc = np.empty(0, dtype=np.uint64)

    out: list[np.ndarray] = []
    for i in range(n):
        lo, hi = int(offsets[i]), int(offsets[i + 1])
        cnt = hi - lo
        if cnt == 0:
            out.append(np.array([_EMPTY_SHINGLE], dtype=np.uint64))
        elif cnt < k:
            with np.errstate(over="ignore"):
                h = flat[lo]
                for j in range(lo + 1, hi):
                    h = (h * _MIX1) ^ flat[j]
                h = _splitmix64(np.array([h], dtype=np.uint64))
            out.append(h)
        else:
            out.append(np.unique(acc[lo: hi - k + 1]))
    return out


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------

def minhash_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (a, b) parameter vectors for multiply-shift MinHash."""
    rng = np.random.default_rng(cfg.minhash_seed)
    a = rng.integers(1, 2**63, size=cfg.num_perm, dtype=np.uint64) * _U64(2) + _U64(1)  # odd
    b = rng.integers(0, 2**63, size=cfg.num_perm, dtype=np.uint64)
    return a, b


_MINHASH_BLOCK = 32_768  # shingles per work block (buf = num_perm x block)


def minhash_signatures(shingles: list[np.ndarray], cfg: DedupConfig) -> np.ndarray:
    """Batched MinHash: (n_rows, num_perm) uint64.

    Vectorized (a*h + b) over a REUSED (num_perm x block) buffer — this
    platform pays ~20x for large allocation churn (mmap/munmap storms across
    parallel workers), so all hot-loop temporaries are written with ``out=``
    into preallocated arrays.  Rows are packed into blocks of ~32k shingles;
    the per-row signature is a single vectorized column-slice min.
    """
    a, b = minhash_params(cfg)
    n = len(shingles)
    counts = np.fromiter((len(s) for s in shingles), dtype=np.int64, count=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    flat = np.concatenate(shingles) if n else np.empty(0, dtype=np.uint64)
    # defined semantics for EMPTY shingle sets (r4 review: np.empty returned
    # uninitialized garbage for all-empty batches and the column-slice min
    # raised on mixed batches): min over the empty set = the identity,
    # uint64 max — deterministic, and identical for every empty doc.
    # shingle_sets never emits empty sets (whole-doc fold), but this public
    # kernel is also driven by tools/ and the oracle.
    has_empty = bool((counts == 0).any()) if n else False
    sentinel = np.uint64(0xFFFFFFFFFFFFFFFF)
    sig = (
        np.full((n, cfg.num_perm), sentinel, dtype=np.uint64)
        if has_empty
        else np.empty((n, cfg.num_perm), dtype=np.uint64)
    )
    if len(flat) == 0:
        return sig

    cap = max(_MINHASH_BLOCK, int(counts.max()) if n else 0)
    buf = np.empty((cfg.num_perm, cap), dtype=np.uint64)
    a_col = np.ascontiguousarray(a[:, None])
    b_col = np.ascontiguousarray(b[:, None])

    with np.errstate(over="ignore"):
        r = 0
        while r < n:
            # pack rows [r, r2) with total shingles <= cap (>=1 row always)
            r2 = r + 1
            lo = offsets[r]
            while r2 < n and offsets[r2 + 1] - lo <= cap:
                r2 += 1
            hi = offsets[r2]
            m = int(hi - lo)
            view = buf[:, :m]
            np.multiply(a_col, flat[None, lo:hi], out=view)
            np.add(view, b_col, out=view)
            for i in range(r, r2):
                s, e = int(offsets[i] - lo), int(offsets[i + 1] - lo)
                if s == e:
                    continue  # empty set: row already holds the sentinel
                sig[i] = view[:, s:e].min(axis=1)
            r = r2
    return sig


def band_hashes(sig: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """(n_rows, bands) int64 band hashes from a (n_rows, num_perm) signature.

    Each band hash mixes its r row-values plus the band index, so equal
    hashes in different bands never collide into one LSH bucket.
    """
    n = sig.shape[0]
    r, bcount = cfg.rows_per_band, cfg.bands
    out = np.empty((n, bcount), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for bi in range(bcount):
            acc = np.full(n, _U64(bi + 1), dtype=np.uint64)
            for j in range(r):
                acc = (acc * _MIX1) ^ sig[:, bi * r + j]
            out[:, bi] = _splitmix64(acc)
    return out.view(np.int64)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(norm_texts: pd.Series, cfg: DedupConfig) -> np.ndarray:
    """64-bit SimHash over token features, vectorized per batch.

    Expand every token hash to its 64 bits, signed-sum per row via
    ``np.add.reduceat``, take the sign.  Returns int64 (bit-pattern view).
    """
    flat, offsets = _flat_token_hashes(norm_texts)
    n = len(offsets) - 1
    if len(flat) == 0:
        return np.zeros(n, dtype=np.int64)
    # bit expansion via unpackbits (C-speed, 1 byte/bit) instead of a
    # (tokens x 64) uint64 broadcast; per-row bit counts via a SIMD cumsum +
    # boundary gather (np.add.reduceat's generic inner loop is ~50x slower
    # on 2-D segments)
    counts = np.diff(offsets)
    rows = np.repeat(np.arange(n, dtype=np.int64), counts)
    # per-bit segment sums via weighted bincount: each pass is a shift/mask
    # over the flat uint64s plus one bincount — contiguous streaming ops into
    # REUSED buffers (cumsum/reduceat segment tricks and allocation churn are
    # pathologically slow on this platform)
    ones = np.empty((n, 64), dtype=np.int64)
    ubuf = np.empty_like(flat)
    fbuf = np.empty(len(flat), dtype=np.float64)
    for b in range(64):
        np.right_shift(flat, _U64(b), out=ubuf)
        np.bitwise_and(ubuf, _U64(1), out=ubuf)
        np.copyto(fbuf, ubuf, casting="unsafe")
        ones[:, b] = np.bincount(rows, weights=fbuf, minlength=n).astype(np.int64)
    # signed sum = 2*ones - n_tokens; majority bit = (2*ones > n_tokens)
    h = (2 * ones > counts[:, None]).astype(np.uint64)
    h[counts == 0] = 0
    out = np.zeros(n, dtype=np.uint64)
    for bit in range(64):
        out |= h[:, bit] << _U64(bit)
    return out.view(np.int64)


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized Hamming distance between two int64 simhash arrays."""
    x = (a.view(np.uint64) ^ b.view(np.uint64))
    return np.bitwise_count(x).astype(np.int32) if hasattr(np, "bitwise_count") else np.array(
        [bin(int(v)).count("1") for v in x], dtype=np.int32
    )


# ---------------------------------------------------------------------------
# exact Jaccard (oracle + verification kernel)
# ---------------------------------------------------------------------------

def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two sorted-unique uint64 arrays."""
    inter = len(np.intersect1d(a, b, assume_unique=True))
    union = len(a) + len(b) - inter
    return inter / union if union else 1.0


def content_sha256(norm_texts: pd.Series) -> pd.Series:
    """Strong content hash of normalized text (Stage-1 exact short-circuit)."""
    return norm_texts.map(lambda s: hashlib.sha256(s.encode("utf-8")).hexdigest())


# ---------------------------------------------------------------------------
# Suffix array — the literal data structure of the north rule's "suffix-array
# pass for exact substring containment".  operators/containment.py uses it as
# an opt-in verify backend: one array per OUTER document, probed by every
# inner candidate, so a boilerplate pile-up (many inners against one hot
# outer) pays the O(n log² n) build once and O(m log n) per probe instead of
# O(n·m) per pair, and gets the match offset for free (reference analogue:
# the shorter reference string folded into the longer on key containment,
# MergeDB.py:210-278).


def suffix_array(data: bytes | bytearray | np.ndarray) -> np.ndarray:
    """Suffix array of a byte string via prefix doubling (Manber–Myers),
    fully vectorized: each round is one ``np.lexsort`` over (rank, rank+k)
    plus a cumsum rank compression — O(n log² n), no per-suffix Python."""
    if isinstance(data, np.ndarray):
        s = data.astype(np.uint8, copy=False)
    else:
        s = np.frombuffer(bytes(data), dtype=np.uint8)
    n = int(s.size)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = s.astype(np.int64)
    k = 1
    while True:
        key2 = np.full(n, -1, dtype=np.int64)
        if k < n:
            key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        r1 = rank[order]
        r2 = key2[order]
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[0] = 0
        np.cumsum((r1[1:] != r1[:-1]) | (r2[1:] != r2[:-1]), out=new_rank[1:])
        rank = np.empty(n, dtype=np.int64)
        rank[order] = new_rank
        if new_rank[-1] == n - 1 or k >= n:
            return order.astype(np.int64, copy=False)
        k <<= 1


def sa_find(text: bytes, sa: np.ndarray, pat: bytes) -> int:
    """Leftmost occurrence of ``pat`` in ``text`` given ``text``'s suffix
    array — ``str.find`` semantics (offset or -1; 0 for the empty pattern).

    Two binary searches bound the SA range whose suffixes start with
    ``pat`` (suffixes sharing a prefix are contiguous in SA order); the
    leftmost TEXT offset is the minimum of that range, which the plain
    lower-bound hit would not give (it is the lexicographically smallest
    matching suffix, not the earliest one)."""
    m = len(pat)
    if m == 0:
        return 0
    n = len(text)
    if m > n:
        return -1
    lo, hi = 0, n
    while lo < hi:  # lower bound: first suffix whose m-prefix >= pat
        mid = (lo + hi) // 2
        off = int(sa[mid])
        if text[off : off + m] < pat:
            lo = mid + 1
        else:
            hi = mid
    first = lo
    hi = n
    while lo < hi:  # upper bound: first suffix whose m-prefix > pat
        mid = (lo + hi) // 2
        off = int(sa[mid])
        if text[off : off + m] <= pat:
            lo = mid + 1
        else:
            hi = mid
    if lo == first:
        return -1
    return int(sa[first:lo].min())
