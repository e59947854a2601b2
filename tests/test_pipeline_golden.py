"""Golden cluster-assignment tests: Spark pipeline vs brute-force oracle
(FIXTURES.md §3).  This is the correctness heart of the engine — dup-pair
recall >= 0.99 and identical cluster assignments at the canonical config
(BASELINE.json north_rule)."""

from __future__ import annotations

import pandas as pd
import pytest

from bibexpy_spark import oracle, pipeline
from bibexpy_spark.operators import assembly


@pytest.fixture(scope="module")
def result(spark, turns_df):
    return pipeline.run_dedup(spark, turns_df)


def test_cluster_assignments_match_oracle(result, golden):
    got = result["clusters"].toPandas().sort_values("conv_id").reset_index(drop=True)
    want = golden["clusters"].sort_values("conv_id").reset_index(drop=True)
    merged = got.merge(want, on="conv_id", suffixes=("_spark", "_oracle"))
    assert len(merged) == len(want)
    mism = merged[merged.cluster_id_spark != merged.cluster_id_oracle]
    assert len(mism) == 0, mism.head(20)


def test_dup_pair_recall_and_precision(result, golden):
    got = pipeline.dup_pairs_from_clusters(result["clusters"]).toPandas()
    got_set = set(zip(got.a_id, got.b_id))
    gold_set = set(zip(golden["pairs"].a_id, golden["pairs"].b_id))
    tp = len(got_set & gold_set)
    recall = tp / len(gold_set)
    assert recall >= 0.99, f"recall {recall}"
    # transitive closure can only ADD pairs the oracle also closes over, so
    # at fixture scale precision should be perfect too
    assert tp == len(got_set), f"unexpected extra pairs: {list(got_set - gold_set)[:5]}"


def test_negative_controls_not_clustered(result):
    """border-class conversations must NOT share a cluster with their base
    (reference control-pair style, apps/api/tests/test_smart_merge.py:60-67)."""
    cl = result["clusters"].toPandas()
    lookup = dict(zip(cl.conv_id, cl.cluster_id))
    borders = [c for c in lookup if c.endswith("_border")]
    assert borders, "fixture must contain border-class conversations"
    for b in borders:
        base = b.replace("_border", "_base")
        assert lookup[b] != lookup[base], f"{b} wrongly clustered with {base}"


def test_positive_controls_clustered(result):
    cl = result["clusters"].toPandas()
    lookup = dict(zip(cl.conv_id, cl.cluster_id))
    for cls in ("exact", "near", "reorder"):
        members = [c for c in lookup if c.endswith(f"_{cls}")]
        assert members, f"fixture must contain {cls}-class conversations"
        for m in members:
            base = m.replace(f"_{cls}", "_base")
            assert lookup[m] == lookup[base], f"{m} not clustered with {base}"


def test_containment_pairs_match_oracle(result, conv_pd):
    got = result["containment_prefix"].toPandas()
    want = oracle.containment_pairs(conv_pd)
    got_set = set(zip(got.inner_id, got.outer_id))
    want_set = set(zip(want.inner_id, want.outer_id))
    assert got_set == want_set


def test_simhash_pairs_match_oracle(result, conv_pd):
    got = result["simhash_pairs"].toPandas()
    want = oracle.simhash_pairs(conv_pd)
    got_set = set(zip(got.a_id, got.b_id))
    want_set = set(zip(want.a_id, want.b_id))
    assert got_set == want_set


def test_per_turn_text_equality_invariant(turns_df, conv_pd):
    """Assembly must join every turn in (conv_id, turn_idx) order under
    stable ordering (input_hint invariant); the reorder class arrives
    shuffled, so this exercises the sort.  Checked on the assembler the
    pipeline runs, against the oracle's pandas assembly."""
    cols = ["conv_id", "doc", "roles", "tools"]
    got = assembly.assemble_docs(turns_df, include_roles_tools=True).toPandas()
    got = got[cols].sort_values("conv_id").reset_index(drop=True)
    want = conv_pd[cols].sort_values("conv_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_exact_dups_share_content_hash(result):
    signed = result["signed"].select("conv_id", "content_sha").toPandas()
    lookup = dict(zip(signed.conv_id, signed.content_sha))
    exacts = [c for c in lookup if c.endswith("_exact")]
    assert exacts
    for e in exacts:
        assert lookup[e] == lookup[e.replace("_exact", "_base")]


def test_pipeline_degenerate_inputs(spark):
    """Robustness at the edges: a single conversation, an empty-text
    conversation, and unicode-heavy text all flow through the full DAG
    without error and with sane cluster output."""
    from bibexpy_spark import pipeline as pl

    rows = [
        # single-turn conversation
        ("solo", 0, "user", "only one turn here", "", "2024-01-01T00:00:00"),
        # empty-text turns
        ("empty", 0, "user", "", "", "2024-01-01T00:00:00"),
        ("empty", 1, "assistant", "", "", "2024-01-01T00:00:01"),
        # unicode-heavy (fold + shingle path)
        ("uni", 0, "user", "héllo wörld — naïve café über draußen", "",
         "2024-01-01T00:00:00"),
        ("uni", 1, "assistant", "日本語のテキストと emoji 🚀 here", "",
         "2024-01-01T00:00:01"),
        # exact duplicate of the unicode conversation
        ("uni2", 0, "user", "héllo wörld — naïve café über draußen", "",
         "2024-01-01T00:00:00"),
        ("uni2", 1, "assistant", "日本語のテキストと emoji 🚀 here", "",
         "2024-01-01T00:00:01"),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string"
    )
    from pyspark.sql import functions as F

    turns = turns.withColumn("ts", F.col("ts").cast("timestamp"))
    res = pl.run_dedup(spark, turns, with_containment=True, with_simhash_pass=True)
    cl = {r["conv_id"]: r["cluster_id"] for r in res["clusters"].collect()}
    assert set(cl) == {"solo", "empty", "uni", "uni2"}
    assert cl["uni"] == cl["uni2"] == "uni"  # exact dup clustered, min id label
    assert cl["solo"] == "solo" and cl["empty"] == "empty"


def test_pipeline_empty_corpus(spark):
    from pyspark.sql import functions as F

    from bibexpy_spark import pipeline as pl

    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
    )
    res = pl.run_dedup(spark, empty, with_containment=False, with_simhash_pass=False)
    assert res["clusters"].count() == 0
    assert res["dup_edges"].count() == 0
