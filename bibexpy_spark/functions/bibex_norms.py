"""Jaro-Winkler similarity, the last of the BibexPy scalar functions
(SURVEY.md §2.8).  The bibliographic disambiguation that called it is gone;
no entry point imports this module (tests/test_reachability.py PENDING) and
it goes with golden.py's reference and their tests (ROADMAP item 4(b)).

Reference parity: disambiguation/similarity.py:27-72.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf


def _jaro(a: str, b: str) -> float:
    """Classic Jaro similarity (similarity.py:27-60)."""
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if not la or not lb:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    match_a = [False] * la
    match_b = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and b[j] == ca:
                match_a[i] = match_b[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    t = 0
    k = 0
    for i in range(la):
        if match_a[i]:
            while not match_b[k]:
                k += 1
            if a[i] != b[k]:
                t += 1
            k += 1
    # float halving, exactly as the reference (similarity.py:57 `t /= 2`)
    # — an integer floor scores odd-transposition inputs slightly high
    t /= 2
    return (matches / la + matches / lb + (matches - t) / matches) / 3


def jaro_winkler(a: str, b: str, p: float = 0.1, max_prefix: int = 4) -> float:
    """Jaro-Winkler with prefix bonus (similarity.py:63-72)."""
    j = _jaro(a, b)
    prefix = 0
    for ca, cb in zip(a[:max_prefix], b[:max_prefix]):
        if ca == cb:
            prefix += 1
        else:
            break
    return j + prefix * p * (1 - j)


@pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Pairwise JW over two string columns (used on candidate-pair frames —
    the reference's verification kernel, kept for parity; the transcript
    pipeline verifies with exact Jaccard instead per the north rule)."""
    av = a.fillna("").astype(str).to_numpy()
    bv = b.fillna("").astype(str).to_numpy()
    return pd.Series([jaro_winkler(x, y) for x, y in zip(av, bv)])
