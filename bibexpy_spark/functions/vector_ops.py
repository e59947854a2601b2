"""Vector math over `array<float/double>` embedding columns.

Cosine runs as an Arrow-batched pandas UDF: one ``np.einsum`` per batch for
dot and both norms, float64 math.  Callers round at 4 decimals, which
absorbs summation-order differences — the same tolerance the DuckDB
oracles rely on.  At 100-TB ANN scale the cosine evaluation is the
per-candidate inner loop, so it stays vectorized.

A null endpoint, a zero-norm vector or a length-mismatched pair yields a
NULL cosine (masked Float64), so downstream ``cos >= t`` filters drop it —
never NaN (NaN compares greater than every double in Spark and would leak
through thresholds), and never an ANSI DIVIDE_BY_ZERO error.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


# DataType object, not a DDL string: string return types are parsed via the
# active SparkContext, which would make this module unimportable before a
# session exists (pytest collection, tooling).
@F.pandas_udf(T.DoubleType())
def _cos_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    # Ragged batches (length drift between the two sides, or between rows —
    # a truncated write, schema evolution) must DEGRADE, not crash: a
    # length-mismatched pair yields NULL, and rows are einsum'd in
    # per-length groups (one group — the plain np.stack — in healthy data).
    ok = a.notna() & b.notna()
    out = pd.array(np.full(len(a), np.nan), dtype="Float64")
    if ok.any():
        av, bv = a.to_numpy(), b.to_numpy()
        idx_all = np.flatnonzero(ok.to_numpy())
        la = np.fromiter(
            (len(av[i]) for i in idx_all), dtype=np.int64, count=len(idx_all)
        )
        lb = np.fromiter(
            (len(bv[i]) for i in idx_all), dtype=np.int64, count=len(idx_all)
        )
        eq = la == lb
        idx_all, la = idx_all[eq], la[eq]
        for dim in np.unique(la):
            idx = idx_all[la == dim]
            A = np.stack(av[idx]).astype(np.float64, copy=False)
            B = np.stack(bv[idx]).astype(np.float64, copy=False)
            num = np.einsum("ij,ij->i", A, B)
            den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
                np.einsum("ij,ij->i", B, B)
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = num / den
            cos[den == 0.0] = np.nan
            out[idx] = cos
    res = pd.Series(out)
    return res.mask(res.isna(), pd.NA)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two embedding columns (unrounded; callers apply
    ``F.round(cos, 4)`` so results are reproducible across engines)."""
    return _cos_udf(a, b)
