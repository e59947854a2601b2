"""SimHash Hamming-bucket matching (fuzzy-field dedup pass).

The reference's Stage-4 matches on fuzzy secondary fields (journal JW >= 0.90
plus exact volume/page, smart_merger.py:309-334).  The transcript analogue:
SimHash over text + role/tool-sequence features (computed with the rest of
the signature by ``udfs.with_signature_columns``), pairs within Hamming
distance ``simhash_hamming_max``.

Candidate generation uses the pigeonhole principle: split the 64-bit hash
into ``simhash_chunks`` chunks; two hashes within distance d < chunks must
agree exactly on at least one chunk -> one equi-join per chunk index (the
skew-guarded ``lsh.bucket_pairs``, with the simhash carried per endpoint),
then a JVM-native verify ``bit_count(a ^ b) <= d`` (no Python in the join
path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bibexpy_spark.config import DedupConfig
from bibexpy_spark.lineage import Counters
from bibexpy_spark.operators import lsh


def _chunked(simmed: DataFrame, cfg: DedupConfig, *cols: str) -> DataFrame:
    """Explode each 64-bit simhash into (chunk_idx, chunk_val) rows, keeping
    ``cols`` (the id and simhash, plus any flag the caller needs)."""
    width = 64 // cfg.simhash_chunks
    mask = (1 << width) - 1
    return simmed.select(
        *cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned("simhash", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for i in range(cfg.simhash_chunks)
                ]
            )
        ).alias("c"),
    ).select(*cols, F.col("c.chunk_idx"), F.col("c.chunk_val"))


def _chunk_pairs(
    chunks: DataFrame,
    cfg: DedupConfig,
    new_col: str | None = None,
    bucket_counts: Counters | None = None,
) -> DataFrame:
    """The chunk equi-join under the shared skew policy (lsh.bucket_pairs):
    a hot (chunk_idx, chunk_val) bucket — e.g. 100k boilerplate docs all
    hashing to simhash 0 — degrades to a star on the bucket's min id.  Star
    pairs still pass the Hamming verify, so connectivity through the rep is
    kept exactly for the identical-simhash pile-ups that cause the blowup; a
    member beyond the radius from the rep drops out (bounded, never-silent:
    ``bucket_counts`` observes ``hot_chunk_buckets`` and
    ``active_chunk_buckets``, which the pipeline logs on its ``fuzzy``
    stage)."""
    pairs, sizes = lsh.bucket_pairs(
        chunks, ("chunk_idx", "chunk_val"), cfg.hot_chunk_cap,
        new_col=new_col, carry=("simhash",), bucket_counts=bucket_counts,
        counter="chunk_buckets",
    )
    if bucket_counts is not None:
        # when no chunk-bucket pair is within the radius, adaptive execution
        # drops the observed bucket aggregate, though buckets (even hot
        # ones) exist: the counters then recount them from ``sizes``
        bucket_counts.recount = sizes.agg(*lsh.bucket_counters("chunk_buckets"))
    return pairs


def _within_radius(pairs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Hamming verify, then one row per pair: (a_id, b_id, hamming)."""
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(F.col("a_simhash").bitwiseXOR(F.col("b_simhash"))),
        )
        .filter(F.col("hamming") <= cfg.simhash_hamming_max)
        .select("a_id", "b_id", "hamming")
        .dropDuplicates(["a_id", "b_id"])
    )


def simhash_pairs(
    new: DataFrame,
    cfg: DedupConfig,
    old: DataFrame | None = None,
    bucket_counts: Counters | None = None,
) -> DataFrame:
    """(conv_id, simhash) -> pairs (a_id, b_id, hamming) within the radius.

    Buckets above ``cfg.hot_chunk_cap`` degrade to the star fallback (see
    :func:`_chunk_pairs`); below the cap the pair set is exactly the
    all-pairs-within-radius definition.

    With ``old`` (the prior corpus minus retracted rows) only the pairs
    with >= 1 endpoint in ``new`` come out; old-old pairs live in the
    prior pair state, and

        prior_pairs(minus pairs touching retracted ids) ∪ delta_pairs
            == simhash_pairs(old ∪ new).

    Only chunk buckets containing a new row enter the join (lsh.bucket_pairs
    with a new-flag) — cost O(|delta| + touched buckets), never
    O(|corpus|).  A touched bucket keeps ALL its members, so the star-cap
    decision and bucket rep match the batch op exactly; as with the
    containment df cap, the equality above is exact while no bucket CROSSES
    ``hot_chunk_cap`` between batches (a bucket going hot leaves previously
    captured verified pairs in state that a fresh batch's star would no
    longer emit — never-silent via the ``hot_chunk_buckets`` counter)."""
    cols, new_col = ["conv_id", "simhash"], None
    if old is not None:
        new = old.select(*cols, F.lit(False).alias("_is_new")).unionByName(
            new.select(*cols, F.lit(True).alias("_is_new"))
        )
        cols, new_col = cols + ["_is_new"], "_is_new"
    pairs = _chunk_pairs(_chunked(new, cfg, *cols), cfg, new_col, bucket_counts)
    return _within_radius(pairs, cfg)
