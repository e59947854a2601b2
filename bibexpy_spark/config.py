"""Canonical dedup configuration, shared verbatim by the Spark pipeline,
the brute-force oracle, the fixtures generator, and the tests.

The reference (bcankara/BibexPy) hard-codes its matching config as module
constants (thresholds at apps/api/services/smart_merger.py:60-63, stage
predicates at :243-350). We centralize the analogous knobs in one frozen
dataclass so the oracle and the pipeline can never drift apart, and so the
checkpoint/resume manifests can hash the config (SURVEY.md §7 Stage E).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    """One shingle/signature/clustering configuration.

    Normalization has no fields: every text goes through one fixed chain
    (``kernels.normalize_text``: NFKD -> ASCII fold, lowercase,
    punctuation -> space, collapse whitespace; stopwords are kept).

    ``num_perm`` is ``bands * rows_per_band``.  The default (32 bands x 4
    rows, 128 perms) puts the LSH S-curve threshold at ~(1/32)^(1/4) ~= 0.42,
    i.e. candidate-capture probability >0.9999999 at the verification
    threshold 0.8 -- that is what buys dup-pair recall >=0.99.
    """

    # -- shingling
    shingle_k: int = 5                  # word k-grams; a row shorter than k still gets 1 shingle

    # -- MinHash
    minhash_seed: int = 0x5EED_CAFE

    # -- LSH banding
    bands: int = 32
    rows_per_band: int = 4

    # -- verification
    jaccard_threshold: float = 0.8      # exact Jaccard on shingle sets

    # -- SimHash (fuzzy-field pass: role/tool sequence + text features;
    # the hash is 64 bits wide, kernels.simhash64)
    simhash_hamming_max: int = 3
    simhash_chunks: int = 4             # pigeonhole: one chunk must be equal

    # -- skew handling (r4 review: the former band_salt_buckets /
    # max_pairs_per_band / cc_checkpoint_every knobs were implemented
    # nowhere — dead fields that still altered config_hash; removed so the
    # config only advertises behavior that exists)
    hot_band_cap: int = 2000            # max rows per (band, hash) bucket before the star fallback
    hot_chunk_cap: int = 2000           # same policy for SimHash (chunk_idx, chunk_val) buckets

    # -- connected components
    cc_max_iter: int = 50

    # -- containment (suffix pass)
    containment_prefix_tokens: int = 8  # blocking key = first N normalized tokens

    @property
    def num_perm(self) -> int:
        """MinHash permutations: one per row of every LSH band."""
        return self.bands * self.rows_per_band

    def __post_init__(self) -> None:
        # pigeonhole preconditions (r4 review): two hashes within Hamming
        # distance d can disagree on at most d chunks, so d < chunks is
        # REQUIRED for the chunk equi-join to be lossless; chunks must also
        # divide the hash into sane widths (2..32 chunks of >= 2 bits —
        # chunks=1 would need a 64-bit mask literal that overflows LongType,
        # and width < 2 collapses buckets toward a cross join)
        if not (2 <= self.simhash_chunks <= 32):
            raise ValueError(
                f"simhash_chunks must be in [2, 32], got {self.simhash_chunks}"
            )
        if 64 % self.simhash_chunks != 0:
            raise ValueError(
                f"simhash_chunks must divide 64, got {self.simhash_chunks}"
            )
        if not (0 <= self.simhash_hamming_max < self.simhash_chunks):
            raise ValueError(
                f"simhash_hamming_max ({self.simhash_hamming_max}) must be "
                f"< simhash_chunks ({self.simhash_chunks}) for the "
                "pigeonhole candidate join to be lossless"
            )
        if self.containment_prefix_tokens < 1:
            # C = 8 * containment_prefix_tokens chars; C = 0 would collapse
            # every prefix key to '' and pair every empty doc with every doc
            raise ValueError(
                f"containment_prefix_tokens must be >= 1, "
                f"got {self.containment_prefix_tokens}"
            )

    def config_hash(self) -> str:
        """Stable hash of the full config, used in checkpoint manifests."""
        payload = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


#: The canonical configuration — fixtures, oracle, pipeline and bench all
#: import this single instance (FIXTURES.md §3: "canonical config ... fixed in
#: one config file, shared verbatim by oracle and Spark pipeline").
CANONICAL = DedupConfig()
