"""Skew stress at bench scale (VERDICT r3 next-round #4): run the flagship
pipeline over a deliberately boilerplate-heavy corpus — 30k conversations,
~10% sharing one boilerplate opener, so the hot LSH buckets (~3000 rows)
exceed the CANONICAL hot_band_cap (2000) and the star fallback activates
under the DEFAULT config, no knob-forcing.

Reports star-bucket counts, candidate volume (absolute and vs the all-pairs
blowup the pile-up would otherwise cause), dup pairs, whether the pile-up
resolves into one cluster, and wall time.  Writes data/skew_stress.json.

Run:  python tools/skew_stress.py  [n_conversations] [hot_fraction]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_conv = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000
    hot_fraction = float(sys.argv[2]) if len(sys.argv) > 2 else 0.10

    from pyspark.sql import functions as F

    from bibexpy_spark import corpus, pipeline
    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.operators import exact, lsh
    from bibexpy_spark.session import build_spark

    path = corpus.write_skewed_parquet(
        os.path.join(REPO, "data", "transcripts_skew.parquet"),
        n_conv, hot_fraction=hot_fraction, seed=77,
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(app_name="skew_stress", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    turns = spark.read.parquet(path)
    n_turns = turns.count()

    t0 = time.time()
    res = pipeline.run_dedup(
        spark, turns, cfg=CANONICAL, with_containment=False, with_simhash_pass=False
    )
    clusters = res["clusters"].persist()
    n_clusters = clusters.select("cluster_id").distinct().count()
    wall = time.time() - t0

    n_hot = (
        turns.filter(F.col("conv_id").endswith("_hot"))
        .select("conv_id").distinct().count()
    )
    reps = exact.representatives(res["signed"], res["exact_edges"])
    _, band_stats = lsh.candidate_pairs(reps, CANONICAL)
    stats_row = band_stats.agg(
        F.count("*").alias("active"),
        F.sum(F.col("star_mode").cast("long")).alias("star"),
        F.max("bucket_n").alias("max_bucket"),
    ).collect()[0]
    n_cand = res["candidate_pairs"].count()
    n_dup = res["dup_edges"].count()
    hot_cluster_count = (
        clusters.filter(F.col("conv_id").endswith("_hot"))
        .select("cluster_id").distinct().count()
    )
    all_pairs_hot = n_hot * (n_hot - 1) // 2

    out = {
        "corpus": os.path.basename(path),
        "n_conversations": n_conv,
        "hot_fraction": hot_fraction,
        "n_hot_conversations": n_hot,
        "n_turns": n_turns,
        "wall_s": round(wall, 2),
        "star_buckets": int(stats_row["star"] or 0),
        "active_buckets": int(stats_row["active"]),
        "max_bucket_n": int(stats_row["max_bucket"]),
        "candidate_pairs": n_cand,
        "hot_allpairs_blowup": all_pairs_hot,
        "candidate_rate_vs_allpairs": round(n_cand / all_pairs_hot, 4),
        "dup_pairs": n_dup,
        "n_clusters": n_clusters,
        "hot_cluster_count": hot_cluster_count,
        "recall_vs_golden": "1.0 at fixture scale (tests/test_skew_stress.py); "
                            "scale proxy: hot_cluster_count == 1",
    }
    clusters.unpersist()
    spark.stop()
    with open(os.path.join(REPO, "data", "skew_stress.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
