"""Entity-standardization proposal builders: affiliation blocks, author
splits (detect + apply), country blocks, org rollup — reference-semantics
fixtures (blocking.py:286-583, pipeline.py:884-975)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bibexpy_spark.operators import entity_blocks as eb


# ---------------------------------------------------------------------------
# affiliation blocks
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def affil_df(spark):
    # variants share the block token 'example' (blocking is first-meaningful-
    # token, blocking.py:381-384); pairwise JW in [0.85, 0.95) -> tier 2
    rows = [
        ("r1", "[A, B] Example Univ, Springfield, USA"),
        ("r2", "Example University, Springfield, USA"),
        ("r3", "Example Univ Hosp, Springfield, USA"),
        ("r4", "Acad Sinica Inst, Taipei, Taiwan"),         # distinct block
        ("r5", None),
    ]
    return spark.createDataFrame(rows, ["UID", "C1"])


def test_affiliation_blocks_cluster_variants(affil_df):
    out = eb.affiliation_blocks(affil_df).toPandas()
    assert len(out) == 1  # one multi-variant cluster; singletons skipped
    c = out.iloc[0]
    assert c["tier"] == 2  # min pairwise JW 0.898 < 0.95 -> review
    assert len(c["variants"]) == 3
    assert set(c["records"]) == {"r1", "r2", "r3"}


def test_affiliation_blocks_tier1_near_identical(spark):
    rows = [
        ("r1", "Example Univ, Springfield, USA"),
        ("r2", "Example Univ, Springfeld, USA"),  # JW 0.993 >= 0.95 -> auto
    ]
    df = spark.createDataFrame(rows, ["UID", "C1"])
    out = eb.affiliation_blocks(df).toPandas()
    assert len(out) == 1 and out.iloc[0]["tier"] == 1


# ---------------------------------------------------------------------------
# author splits
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def split_df(spark):
    rows = [
        # "Zipf A" spans two field-disjoint groups: physics (u1,u2) / bio (u3)
        ("u1", "Zipf A; Other B", "Physics, Applied", ""),
        ("u2", "Zipf A", "Physics, Applied; Optics", ""),
        ("u3", "Zipf A", "Biology", ""),
        # "Chain C" has chained fields (a-b share, b-c share) -> ONE group
        ("u4", "Chain C", "X; Y", ""),
        ("u5", "Chain C", "Y; Z", ""),
        ("u6", "Chain C", "Z", ""),
        # already-split name must never re-split (idempotence)
        ("u7", "Zipf A (b)", "Chemistry", ""),
    ]
    return spark.createDataFrame(rows, ["UID", "AU", "WC", "SC"])


def test_author_splits_field_disjoint(split_df):
    out = eb.author_split_proposals(split_df).toPandas()
    zipf = out[out.norm == "zipf a"].sort_values("group_idx")
    assert len(zipf) == 2  # two disjoint groups
    g0, g1 = zipf.iloc[0], zipf.iloc[1]
    assert g0["suffix"] == "" and set(g0["records"]) == {"u1", "u2"}  # largest plain
    assert g1["suffix"] == "(b)" and set(g1["records"]) == {"u3"}
    assert g0["tier"] == 1
    # chained components stay together -> no proposal
    assert not len(out[out.norm == "chain c"])
    # suffixed mentions never re-proposed
    assert not any(out.name.str.contains(r"\(b\)"))


def test_apply_author_splits(split_df, spark):
    splits = eb.author_split_proposals(split_df)
    out = eb.apply_author_splits(split_df, splits, id_col="UID").toPandas()
    by_uid = dict(zip(out["UID"], out["AU"]))
    assert by_uid["u3"] == "Zipf A (b)"              # suffixed group rewritten
    assert by_uid["u1"] == "Zipf A; Other B"          # plain group untouched
    assert by_uid["u4"] == "Chain C"                  # non-split untouched
    # idempotence: applying again changes nothing (suffixed names excluded)
    df2 = spark.createDataFrame(out, ["UID", "AU", "WC", "SC"])
    splits2 = eb.author_split_proposals(df2)
    assert splits2.filter(F.col("norm") == "zipf a").count() == 0


def test_apply_splits_covers_all_spellings(spark):
    """Norm-matched rewrite: a record whose token is
    spelled differently ('Smith, J' vs 'Smith J') must still get its suffix,
    with its ORIGINAL spelling preserved."""
    rows = [
        ("u1", "Smith J", "Physics", ""),
        ("u2", "Smith, J", "Physics", ""),
        ("u3", "Smith J.", "Biology", ""),
    ]
    df = spark.createDataFrame(rows, ["UID", "AU", "WC", "SC"])
    splits = eb.author_split_proposals(df)
    zipf = splits.toPandas()
    assert len(zipf) == 2  # one 2-group split on norm 'smith j'
    out = eb.apply_author_splits(df, splits, id_col="UID").toPandas()
    by_uid = dict(zip(out["UID"], out["AU"]))
    # biology singleton gets the suffix regardless of which group is largest
    suffixed = [v for v in by_uid.values() if "(b)" in v]
    assert len(suffixed) == 1
    assert by_uid["u3"] == "Smith J. (b)"  # original spelling kept


# ---------------------------------------------------------------------------
# country blocks + standardize apply
# ---------------------------------------------------------------------------

def test_country_blocks_tiers(spark):
    rows = [
        ("r1", "Univ A, City, USA"),
        ("r2", "Univ B, City, U.S.A."),
        ("r3", "Univ C, City, United States"),     # already canonical
        ("r4", "Univ D, City, Fantasialand"),      # unknown -> tier 2
        ("r5", "Univ E, City, 90210"),             # digits -> dropped
    ]
    df = spark.createDataFrame(rows, ["UID", "C1"])
    out = eb.country_blocks(df, "UID").toPandas()
    t1 = out[out.tier == 1]
    assert len(t1) == 1
    assert t1.iloc[0]["canonical"] == "United States"
    assert set(t1.iloc[0]["variants"]) == {"USA", "U.S.A.", "United States"}
    t2 = out[out.tier == 2]
    assert list(t2["variants"].map(tuple)) == [("Fantasialand",)]


def test_standardize_countries_apply(spark):
    df = spark.createDataFrame(
        [("r1", "[A, B] Univ X, City, Peoples R China; Univ Y, Town, England")],
        ["UID", "C1"],
    )
    out = df.withColumn("C1", eb.standardize_countries_udf(F.col("C1"))).first()
    assert out["C1"] == "[A, B] Univ X, City, China; Univ Y, Town, United Kingdom"


# ---------------------------------------------------------------------------
# org rollup
# ---------------------------------------------------------------------------

def test_org_rollup_blocks_and_apply(spark):
    rows = [
        ("r1", "Dept Phys, Harvard Univ, Cambridge, MA 02138, USA"),
        ("r2", "Harvard Univ, Boston, USA"),
        ("r3", "Dept Chem, Harvard University, Cambridge, USA"),
        ("r4", "Unparseable Place, Nowhere"),
    ]
    df = spark.createDataFrame(rows, ["UID", "C1"])
    blocks = eb.org_rollup_blocks(df, "UID").toPandas()
    assert len(blocks) == 1
    b = blocks.iloc[0]
    assert b["canonical_name"] == "Harvard Univ"  # most frequent parent
    assert set(b["records"]) == {"r1", "r2", "r3"}
    rolled = eb.apply_org_rollup(df).toPandas().set_index("UID")["C1"]
    assert rolled["r1"] == "Harvard Univ, United States"
    assert rolled["r4"] == "Unparseable Place, Nowhere"  # raw passthrough
