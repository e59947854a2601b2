"""Tests for the enrichment pattern."""

from __future__ import annotations

from bibexpy_spark.sources import enrichment


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
