"""Tests for versioned record mutations and the enrichment pattern."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bibexpy_spark.operators import records
from bibexpy_spark.sources import enrichment


@pytest.fixture(scope="module")
def biblio(spark):
    rows = [
        ("u1", "Title A", "Auth A", "2020", "J1", "10.1/a", "abstract...", "5"),
        ("u2", "Title B", "Auth B", "2021", "J2", "", "", ""),
        ("u3", "", "Auth C", "NAN", "J3", "10.3/c", "abs", "1"),
    ]
    return spark.createDataFrame(
        rows, ["UID", "TI", "AU", "PY", "SO", "DI", "AB", "TC"]
    )


def test_versioned_delete_update(spark, biblio, tmp_path):
    t = records.VersionedTable(spark, str(tmp_path / "tbl"))
    v1 = t.write(biblio)
    assert v1 == 1
    v2 = t.delete_where(F.col("UID") == "u2")
    assert v2 == 2
    assert t.read().count() == 2
    assert t.read(version=1).count() == 3  # snapshot before mutation intact
    v3 = t.update_where(F.col("UID") == "u1", {"TC": F.lit("99")})
    got = {r["UID"]: r["TC"] for r in t.read(version=v3).collect()}
    assert got["u1"] == "99" and got["u3"] == "1"


def test_merge_upsert(spark, biblio, tmp_path):
    t = records.VersionedTable(spark, str(tmp_path / "tbl2"))
    t.write(biblio)
    updates = spark.createDataFrame(
        [("u1", "Title A2", "Auth A", "2020", "J1", "10.1/a", "abs", "7"),
         ("u9", "New", "Auth N", "2022", "J9", "", "", "0")],
        biblio.columns,
    )
    t.merge_upsert(updates, "UID")
    got = {r["UID"]: r["TI"] for r in t.read().collect()}
    assert got["u1"] == "Title A2" and "u9" in got and len(got) == 4


def test_enrichment_pattern(spark):
    recs = spark.createDataFrame(
        [("r1", "10.1/a"), ("r2", ""), ("r3", "10.2/b")], ["record_id", "doi"]
    )
    out = enrichment.enrich_by_doi(recs, enrichment.fake_fetcher).toPandas()
    assert len(out) == 3
    byid = out.set_index("record_id")
    assert byid.loc["r1", "hit"] and not byid.loc["r2", "hit"]
    assert byid.loc["r3", "filled_abstract"] == "Abstract for 10.2/b"


def test_fetch_with_retry_gives_up():
    calls = []

    def flaky(_):
        calls.append(1)
        raise ConnectionError("boom")

    assert enrichment.fetch_with_retry(flaky, "10.1/x", retries=3, backoff_s=0) is None
    assert len(calls) == 3
