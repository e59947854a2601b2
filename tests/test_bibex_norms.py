"""Unit tests for the Jaro-Winkler scalar function (SURVEY.md §2.8),
reference-style micro-fixtures."""

from __future__ import annotations

import pytest

from bibexpy_spark.functions import bibex_norms as bn


def test_jaro_winkler_values():
    # classic published examples
    assert bn.jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-3)
    assert bn.jaro_winkler("DWAYNE", "DUANE") == pytest.approx(0.84, abs=1e-2)
    assert bn.jaro_winkler("abc", "abc") == 1.0
    assert bn.jaro_winkler("abc", "xyz") == 0.0


def test_jaro_winkler_udf(spark):
    df = spark.createDataFrame([("martha", "marhta")], ["a", "b"])
    got = df.select(bn.jaro_winkler_udf("a", "b").alias("jw")).first()["jw"]
    assert got == pytest.approx(0.9611, abs=1e-3)

