"""The Arrow-batched signing UDF wrapping the shared kernels.

One struct-returning pandas UDF per row signs a conversation: per Arrow
batch it calls each kernel once (normalize, shingle, MinHash + band hashes
and, optionally, SimHash), so no kernel output is recomputed for another
column, and no per-row Python runs on the Spark side (BASELINE.json
``input_hint``).  The kernels are the exact code the oracle runs.  uint64
kernel outputs are bit-pattern-viewed to int64 for Spark ``LongType``.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from bibexpy_spark.config import DedupConfig
from bibexpy_spark.functions import kernels


@lru_cache(maxsize=8)
def for_config(cfg: DedupConfig, with_simhash: bool):
    """The signing UDF for one config (cached; configs are frozen):
    ``doc`` (plus ``roles``, ``tools`` with ``with_simhash``) ->
    struct<norm_text, shingles, band_hashes[, simhash]>.

    The SimHash feature is the normalized doc, roles and tools joined by
    spaces.  Normalization maps each character on its own except for the
    final whitespace collapse, so this equals normalizing the joined raw
    texts (tests/test_properties.py checks the identity) without a second
    normalize of the doc; ``simhash64`` splits on whitespace, so an empty
    part adds no token."""
    schema = "norm_text string, shingles array<bigint>, band_hashes array<bigint>"

    @pandas_udf(schema + (", simhash bigint" if with_simhash else ""))
    def sign(doc: pd.Series, *features: pd.Series) -> pd.DataFrame:
        norm = kernels.normalize_text(doc, cfg)
        sets = kernels.shingle_sets(norm, cfg)
        bands = kernels.band_hashes(kernels.minhash_signatures(sets, cfg), cfg)
        out = pd.DataFrame({
            "norm_text": norm,
            "shingles": [s.view(np.int64) for s in sets],
            "band_hashes": list(bands),
        })
        if features:
            parts = [kernels.normalize_text(f, cfg) for f in features]
            out["simhash"] = kernels.simhash64(norm.str.cat(parts, sep=" "), cfg)
        return out

    return sign


def with_signature_columns(
    df, cfg: DedupConfig, text_col: str = "doc", with_simhash: bool = False
):
    """doc -> norm_text, content_sha (native), shingles, band_hashes, and
    with ``with_simhash`` a ``simhash`` over doc + ``roles`` + ``tools``.

    The strong content hash is computed JVM-side with ``sha2`` (the exact
    short-circuit analogous to the reference's Stage-1 DOI equality,
    smart_merger.py:253-265); only the kernels go through Arrow, in one UDF
    call.  The UDF stage inherits the upstream shuffle's partitioning,
    which AQE coalescing sizes to the data (one task for a small delta,
    about one per core for a corpus), so no extra repartition pass is
    needed.
    """
    inputs = [text_col, "roles", "tools"] if with_simhash else [text_col]
    return df.withColumn("_sig", for_config(cfg, with_simhash)(*inputs)).select(
        *df.columns,
        "_sig.norm_text",
        F.sha2("_sig.norm_text", 256).alias("content_sha"),
        "_sig.shingles",
        "_sig.band_hashes",
        *(["_sig.simhash"] if with_simhash else []),
    )
