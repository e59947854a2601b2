"""Skew stress (VERDICT r3 next-round #4): the hot-band star fallback under
a deliberately boilerplate-heavy corpus — measured, not just plan-tested.

Corpus: ~10% of conversations share one long boilerplate opener, so their
MinHash bands pile into a handful of buckets (the reference's empty-key
pile-up analogue, smart_merger.py:189-197).  With the cap forced low the
star fallback MUST activate; the assertions pin:

  * star mode really triggered (band_stats.star_mode count > 0);
  * candidate volume stays bounded — far below the all-pairs blowup the
    pile-up would otherwise cause;
  * dup-pair recall vs a brute-force exact-Jaccard oracle holds at 1.0
    (star edges chain through connected components, so no pair is lost);
  * the delta-driven bucket join (the incremental path's band join and
    the SimHash delta) over the corpus split old/new emits exactly the
    batch join's pairs that touch a new row, star buckets included.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bibexpy_spark import corpus, pipeline
from bibexpy_spark.config import DedupConfig
from bibexpy_spark.functions import udfs
from bibexpy_spark.operators import assembly, exact, lsh, simhash


@pytest.fixture(scope="module")
def skew_corpus(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("skew") / "turns.parquet")
    corpus.write_skewed_parquet(path, 600, hot_fraction=0.10, seed=77)
    return spark.read.parquet(path)


def test_star_fallback_bounds_candidates_and_keeps_recall(spark, skew_corpus):
    # force star mode at fixture scale
    cfg = DedupConfig(hot_band_cap=20, hot_chunk_cap=20)
    res = pipeline.run_dedup(
        spark, skew_corpus, cfg=cfg, with_containment=False, with_simhash_pass=False
    )
    signed = res["signed"]

    n_hot = (
        skew_corpus.filter(F.col("conv_id").endswith("_hot"))
        .select("conv_id").distinct().count()
    )
    assert n_hot >= 40, "fixture must produce a real pile-up"

    # star mode really activated on the pile-up buckets
    reps = exact.representatives(signed, res["exact_edges"])
    _, band_stats = lsh.candidate_pairs(reps, cfg)
    n_star = band_stats.filter(F.col("star_mode")).count()
    assert n_star > 0, "hot buckets did not trip the star fallback"
    max_bucket = band_stats.agg(F.max("bucket_n")).collect()[0][0]
    assert max_bucket > cfg.hot_band_cap

    # candidate volume bounded: the pile-up would generate ~n_hot^2/2 pairs
    # per hot band without the cap; star mode keeps it near-linear
    n_cand = res["candidate_pairs"].count()
    all_pairs_hot = n_hot * (n_hot - 1) // 2
    assert n_cand < all_pairs_hot / 2, (n_cand, all_pairs_hot)
    assert n_cand >= n_hot - 1  # connectivity needs at least a spanning set

    # recall vs brute-force exact Jaccard on the full shingle sets
    side = signed.select("conv_id", "shingles", F.size("shingles").alias("n"))
    a = side.select(
        F.col("conv_id").alias("a_id"), F.col("shingles").alias("a_sh"),
        F.col("n").alias("a_n"),
    )
    b = side.select(
        F.col("conv_id").alias("b_id"), F.col("shingles").alias("b_sh"),
        F.col("n").alias("b_n"),
    )
    brute = (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("inter", F.size(F.array_intersect("a_sh", "b_sh")))
        .filter(
            F.col("inter") * 5 >= (F.col("a_n") + F.col("b_n") - F.col("inter")) * 4
        )
        .select("a_id", "b_id")
    )
    golden = {(r["a_id"], r["b_id"]) for r in brute.collect()}
    assert len(golden) >= all_pairs_hot  # hot pairs all exceed threshold
    got = {
        (r["a_id"], r["b_id"])
        for r in pipeline.dup_pairs_from_clusters(res["clusters"]).collect()
    }
    missed = golden - got
    recall = 1 - len(missed) / len(golden)
    assert recall >= 0.99, f"recall {recall} ({len(missed)} missed)"

    # the pile-up resolves into ONE hot cluster
    hot_clusters = (
        res["clusters"]
        .filter(F.col("conv_id").endswith("_hot"))
        .select("cluster_id").distinct().count()
    )
    assert hot_clusters == 1

    # delta leg: split the corpus in two; the delta-driven join over the
    # same keyed rows must emit exactly the batch join's pairs that have a
    # new endpoint — star buckets included — for the LSH band frame and a
    # SimHash chunk frame
    def _split(df):
        return df.withColumn("_is_new", F.xxhash64("conv_id") % 2 == 0)

    band_keyed = _split(reps).select(
        "conv_id", "_is_new",
        F.posexplode("band_hashes").alias("band_idx", "band_hash"),
    )
    simmed = _split(
        udfs.with_signature_columns(
            assembly.assemble_docs(skew_corpus, include_roles_tools=True), cfg,
            with_simhash=True,
        )
    )
    chunk_keyed = simhash._chunked(simmed, cfg, "conv_id", "simhash", "_is_new")
    for keyed, keys, cap, carry in (
        (band_keyed, ("band_idx", "band_hash"), cfg.hot_band_cap, ()),
        (chunk_keyed, ("chunk_idx", "chunk_val"), cfg.hot_chunk_cap, ("simhash",)),
    ):
        new_ids = {
            r["conv_id"] for r in keyed.filter("_is_new").select("conv_id").collect()
        }
        assert 0 < len(new_ids) < keyed.select("conv_id").distinct().count()
        batch, _ = lsh.bucket_pairs(keyed, keys, cap, carry=carry)
        delta, sizes = lsh.bucket_pairs(
            keyed, keys, cap, new_col="_is_new", carry=carry
        )
        assert sizes.filter(F.col("star_mode")).count() > 0, keys
        want = sorted(
            tuple(r) for r in batch.collect()
            if r["a_id"] in new_ids or r["b_id"] in new_ids
        )
        got = sorted(tuple(r) for r in delta.select(*batch.columns).collect())
        assert got == want, keys
