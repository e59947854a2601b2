"""Arrow-batched pandas UDFs wrapping the shared kernels.

Every UDF here is Series->Series over Arrow batches (no per-row Python on
the Spark side, per BASELINE.json ``input_hint``); the heavy lifting happens
in vectorized numpy inside bibexpy_spark.functions.kernels, the exact same
code the oracle runs.  uint64 kernel outputs are bit-pattern-viewed to int64
for Spark ``LongType`` columns and viewed back on re-entry.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from bibexpy_spark.config import DedupConfig
from bibexpy_spark.functions import kernels


@lru_cache(maxsize=8)
def for_config(cfg: DedupConfig):
    """Build the UDF family for one config (cached; configs are frozen)."""

    @pandas_udf(T.StringType())
    def normalize_udf(texts: pd.Series) -> pd.Series:
        return kernels.normalize_text(texts, cfg)

    @pandas_udf(T.ArrayType(T.LongType()))
    def shingles_udf(norm: pd.Series) -> pd.Series:
        sets = kernels.shingle_sets(norm, cfg)
        return pd.Series([s.view(np.int64) for s in sets])

    @pandas_udf(T.ArrayType(T.LongType()))
    def bands_udf(shingles: pd.Series) -> pd.Series:
        """shingle array (int64) -> LSH band hashes (one int64 per band)."""
        sets = [np.asarray(s, dtype=np.int64).view(np.uint64) for s in shingles]
        sig = kernels.minhash_signatures(sets, cfg)
        bh = kernels.band_hashes(sig, cfg)
        return pd.Series(list(bh))

    @pandas_udf(T.LongType())
    def simhash_udf(norm: pd.Series) -> pd.Series:
        return pd.Series(kernels.simhash64(norm, cfg))

    return {
        "normalize": normalize_udf,
        "shingles": shingles_udf,
        "bands": bands_udf,
        "simhash": simhash_udf,
    }


def with_signature_columns(df, cfg: DedupConfig, text_col: str = "doc"):
    """doc -> norm_text, content_sha256 (native), shingles, band_hashes.

    The strong content hash is computed JVM-side with ``sha2`` (the exact
    short-circuit analogous to the reference's Stage-1 DOI equality,
    smart_merger.py:253-265); only shingling/MinHash go through Arrow.
    The UDF stage inherits the upstream shuffle's partitioning, which AQE
    coalescing sizes to the data (one task for a small delta, about one per
    core for a corpus), so no extra repartition pass is needed.
    """
    u = for_config(cfg)
    return (
        df.withColumn("norm_text", u["normalize"](F.col(text_col)))
        .withColumn("content_sha", F.sha2(F.col("norm_text"), 256))
        .withColumn("shingles", u["shingles"](F.col("norm_text")))
        .withColumn("band_hashes", u["bands"](F.col("shingles")))
    )
