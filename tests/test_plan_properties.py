"""Plan-shape regression tests: the scale contract, assertable.

These are the properties the engine must keep at 100 TB: small dims
broadcast, verification stays JVM-side, no Cartesian products.  A refactor
that silently breaks one of them fails here, not in production."""

from __future__ import annotations

from pyspark.sql import functions as F

from bibexpy_spark.plans import inspect

SF = "/root/testdata/sf0.01"


def test_verify_join_is_jvm_side(spark):
    """The Jaccard verification subplan adds NO Python nodes beyond the
    cached signature stage it consumes."""
    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.functions import udfs
    from bibexpy_spark.operators import lsh, verify as verify_op

    d = spark.read.parquet(f"{SF}/documents.parquet").withColumnRenamed(
        "doc_id", "conv_id"
    )
    signed = udfs.with_signature_columns(d, CANONICAL, text_col="text").persist()
    signed.count()  # materialize cache so downstream plans reference it
    base = inspect.python_eval_nodes(signed)
    pairs, _ = lsh.candidate_pairs(signed, CANONICAL)
    verified = verify_op.verify_pairs(pairs, signed, CANONICAL)
    # candidate+verify reference the cached stage several times; each
    # reference reprints the same subtree — per-reference count must not
    # exceed the signature stage's own count
    n_refs = inspect.explain_formatted(verified).count("InMemoryTableScan")
    assert n_refs >= 2
    assert inspect.python_eval_nodes(verified) <= base * n_refs
    signed.unpersist()


def test_exact_groups_narrow_aggregation(spark):
    """exact_edges must aggregate a narrow projection, not window the wide
    signature payload: the rep-map side of the join reads only
    (content_sha, id)."""
    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.functions import udfs
    from bibexpy_spark.operators import exact

    d = spark.read.parquet(f"{SF}/documents.parquet").withColumnRenamed(
        "doc_id", "conv_id"
    )
    signed = udfs.with_signature_columns(d, CANONICAL, text_col="text")
    plan = inspect.explain_formatted(exact.exact_edges(signed))
    assert "Window" not in plan  # narrow agg+join replaced the wide window


def test_verify_gram_pairs_chain_reuses_side_exchange(spark):
    """verify_pairs' endpoint-join chain projects ``signed`` canonically
    identically on both sides, so the planner must REUSE one exchange of
    the shingle-carrying side table (R + P array shipments, vs the R + 2P
    of a pair-key regroup) — and the plan must contain no pair-key
    aggregation shuffling arrays at all."""
    import numpy as np

    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.functions import udfs
    from bibexpy_spark.operators import lsh, verify as verify_op

    d = spark.read.parquet(f"{SF}/documents.parquet").withColumnRenamed(
        "doc_id", "conv_id"
    )
    signed = udfs.with_signature_columns(d, CANONICAL, text_col="text")
    cand = spark.createDataFrame(
        [(1, 2), (2, 5), (3, 9)], "a_id long, b_id long"
    )

    # at fixture scale the optimizer broadcasts the side table and hides
    # every shuffle — disable auto-broadcast so the plan shows its scale shape
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        new = verify_op.verify_pairs(cand, signed, CANONICAL)
        new.collect()
        plan = new._jdf.queryExecution().executedPlan().toString()
        # one endpoint fetch reuses the other's exchange of the side table
        assert "ReusedExchange" in plan
        # no aggregation anywhere in verify: arrays never cross a pair-key
        # groupBy shuffle
        assert "HashAggregate" not in plan and "ObjectHashAggregate" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # and the result is still exact: the duplicates among the LSH candidates
    # equal a driver-side integer recount over the kernel's shingle sets
    pairs, _ = lsh.candidate_pairs(signed, CANONICAL)
    got = verify_op.verify_pairs(pairs, signed, CANONICAL).filter("is_dup").count()
    sets = {
        r["conv_id"]: np.array(r["shingles"], dtype=np.int64)
        for r in signed.select("conv_id", "shingles").collect()
    }
    t_num, t_den = verify_op._threshold_fraction(CANONICAL.jaccard_threshold)
    want = 0
    for r in pairs.collect():
        a, b = sets[r["a_id"]], sets[r["b_id"]]
        inter = len(np.intersect1d(a, b))
        want += inter * t_den >= (len(a) + len(b) - inter) * t_num
    assert got == want > 0


def test_incremental_plan_no_cartesian(spark):
    """The incremental delta path is equi-joins + window + CC all the way:
    no CartesianProduct / BroadcastNestedLoopJoin anywhere in the final
    clusters plan."""
    from bibexpy_spark import corpus, incremental, pipeline

    path = corpus.corpus_path_for_sf("/root/testdata/sf0.001")
    turns = spark.read.parquet(path)
    is_new = F.abs(F.xxhash64("conv_id")) % 10 >= 7
    prior = pipeline.run_dedup(
        spark, turns.filter(~is_new),
        with_containment=False, with_simhash_pass=False,
    )
    incr = incremental.run_incremental_dedup(
        spark, turns.filter(is_new), prior["signed"], prior["clusters"]
    )
    for df in (incr["candidate_pairs"], incr["clusters"]):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_general_containment_no_cartesian(spark):
    """The complete containment pass (prefix ∪ interior, batch AND delta)
    is equi-joins only: no CartesianProduct / BroadcastNestedLoopJoin in
    either plan, for either verify backend."""
    from bibexpy_spark import corpus
    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.functions import udfs
    from bibexpy_spark.operators import assembly, containment

    path = corpus.corpus_path_for_sf("/root/testdata/sf0.001")
    turns = spark.read.parquet(path)
    is_new = F.abs(F.xxhash64("conv_id")) % 10 >= 7

    def signed(df):
        conv = assembly.assemble_docs(df)
        return udfs.with_signature_columns(conv, CANONICAL, text_col="doc")

    old, new = signed(turns.filter(~is_new)), signed(turns.filter(is_new))
    for df in (
        containment.general_containment_pairs(old, CANONICAL, backend="contains"),
        containment.general_containment_pairs(old, CANONICAL, backend="suffix_array"),
        containment.general_containment_pairs(new, CANONICAL, old),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_delta_semi_joins_broadcast_the_new_keys(spark):
    """Every delta semi-join whose right side is built from the new rows
    broadcasts it: with auto-broadcast off, the delta plans of the prefix
    and general containment passes and of the SimHash pass hold no
    sort-merge semi-join, so the old side is pruned where it is scanned
    instead of being shuffled to meet a delta-sized key set."""
    from bibexpy_spark import corpus
    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.functions import udfs
    from bibexpy_spark.operators import assembly, containment, simhash

    turns_pd = corpus.generate_transcripts(60, seed=7)
    new_ids = sorted(set(turns_pd["conv_id"]))[::20]
    conv = assembly.assemble_docs(spark.createDataFrame(turns_pd), include_roles_tools=True)
    signed = simhash.with_simhash(
        udfs.with_signature_columns(conv, CANONICAL, text_col="doc"), CANONICAL
    )
    is_new = F.col("conv_id").isin(new_ids)
    old, new = signed.filter(~is_new), signed.filter(is_new)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, df in (
            ("prefix", containment.prefix_containment_pairs(new, CANONICAL, old)),
            ("general", containment.general_containment_pairs(new, CANONICAL, old)),
            ("simhash", simhash.simhash_pairs(new, CANONICAL, old)),
        ):
            plan = df._jdf.queryExecution().sparkPlan().toString()
            merge_semi = [
                line for line in plan.splitlines()
                if "SortMergeJoin" in line and "LeftSemi" in line
            ]
            assert not merge_semi, (name, merge_semi)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_assembly_projection_is_codegen_native(spark):
    """The assemble stage's doc/roles/tools projection must not use
    HigherOrderFunctions (transform/filter lambdas are CodegenFallback and
    run on the interpreted expression path — the gram-stage first-run cliff
    class, PLANS.md r4).  Struct-field extraction + array_join/concat_ws/
    array_remove keep the whole projection inside WholeStageCodegen."""
    from bibexpy_spark import corpus
    from bibexpy_spark.operators import assembly

    path = corpus.corpus_path_for_sf("/root/testdata/sf0.001")
    turns = spark.read.parquet(path)
    df = assembly.assemble_docs(turns, include_roles_tools=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "transform(" not in plan, plan
    assert "lambdafunction" not in plan, plan


def test_assemble_docs_accepts_minimal_turn_schema(spark):
    """The lean path's documented shape — a (conv_id, turn_idx, text) frame
    without role/tool, e.g. a foreachBatch source — must still assemble
    (r4 review: unconditional role/tool refs raised UNRESOLVED_COLUMN),
    and a full-schema frame must produce the identical doc."""
    from bibexpy_spark.operators import assembly

    full = spark.createDataFrame(
        [("c1", 0, "u", "hi", ""), ("c1", 1, "a", "there", "")],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    lean = full.select("conv_id", "turn_idx", "text")
    got_lean = {r["conv_id"]: r["doc"] for r in assembly.assemble_docs(lean).collect()}
    got_full = {r["conv_id"]: r["doc"] for r in assembly.assemble_docs(full).collect()}
    assert got_lean == got_full
    with_opts = assembly.assemble_docs(lean, include_roles_tools=True).first()
    assert with_opts["roles"] == " " and with_opts["tools"] == ""


def test_verify_empty_shingle_pair_is_not_dup(spark):
    """Two conversations whose shingle sets are both EMPTY have undefined
    similarity (0/0) and must not verify as duplicates — the integer
    threshold compare alone would pass 0 >= 0 (r4 review)."""
    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.operators import verify as verify_op

    signed = spark.createDataFrame(
        [("a", []), ("b", []), ("c", [1, 2, 3]), ("d", [1, 2, 3])],
        "conv_id string, shingles array<long>",
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("c", "d")], "a_id string, b_id string"
    )
    out = {
        r["a_id"]: (r["is_dup"], r["jaccard"])
        for r in verify_op.verify_pairs(pairs, signed, CANONICAL).collect()
    }
    assert out["a"][0] is False          # empty-vs-empty: never a dup
    assert out["c"] == (True, 1.0)       # identical non-empty sets still pass


def test_simhash_hot_bucket_star_fallback(spark):
    """A hot (chunk_idx, chunk_val) bucket must degrade to the star
    pattern (n-1 pairs through the bucket rep), not a quadratic self-join
    — the lsh.candidate_pairs policy applied to the SimHash pass (r4
    review).  Identical docs share every chunk, so the star still connects
    all of them at hamming 0."""
    from dataclasses import replace

    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.lineage import Counters
    from bibexpy_spark.operators import simhash as sh

    n = 8
    simmed = spark.createDataFrame(
        [(f"c{i:02d}", 1234567) for i in range(n)]
        + [("z1", 7654321), ("z2", 7654321 ^ 1)],   # hamming-1 pair, cold bucket
        "conv_id string, simhash long",
    )
    cfg = replace(CANONICAL, hot_chunk_cap=4)
    chunk_counts = Counters("hot_chunk_buckets", "active_chunk_buckets")
    pairs = {
        (r["a_id"], r["b_id"])
        for r in sh.simhash_pairs(simmed, cfg, bucket_counts=chunk_counts).collect()
    }
    star = {(f"c00", f"c{i:02d}") for i in range(1, n)}
    assert star <= pairs                       # all members reach the rep
    assert ("z1", "z2") in pairs               # cold bucket: exact pairs kept
    assert len([p for p in pairs if p[0].startswith("c")]) == n - 1
    # below the cap the exact all-pairs set comes back
    full = {
        (r["a_id"], r["b_id"])
        for r in sh.simhash_pairs(simmed, CANONICAL).collect()
        if r["a_id"].startswith("c")
    }
    assert len(full) == n * (n - 1) // 2
    # the observed counters are never silent about star mode: the two high
    # chunks are 0 for ALL small ints (two all-rows buckets), the c-rows
    # share their two low chunks, z1/z2 share one (cold)
    assert chunk_counts.get == {"hot_chunk_buckets": 4, "active_chunk_buckets": 5}


def test_simhash_delta_matches_batch_with_star(spark):
    """prior ∪ delta == batch over everything, star mode included, while
    no bucket crosses the cap between batches (r4 review)."""
    from dataclasses import replace

    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.operators import simhash as sh

    cfg = replace(CANONICAL, hot_chunk_cap=3)
    old = spark.createDataFrame(
        [(f"h{i}", 999) for i in range(6)] + [("q1", 555)],
        "conv_id string, simhash long",
    )
    new = spark.createDataFrame(
        [("n1", 999), ("n2", 555 ^ 2)], "conv_id string, simhash long"
    )
    batch = {
        (r["a_id"], r["b_id"])
        for r in sh.simhash_pairs(old.unionByName(new), cfg).collect()
    }
    prior = {
        (r["a_id"], r["b_id"]) for r in sh.simhash_pairs(old, cfg).collect()
    }
    delta = {
        (r["a_id"], r["b_id"])
        for r in sh.simhash_pairs(new, cfg, old).collect()
    }
    assert prior | delta == batch
    assert all("n" in a or "n" in b for a, b in delta)
