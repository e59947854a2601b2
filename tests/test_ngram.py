"""Two-phase n-gram Jaccard plan: losslessness vs brute force, including
boilerplate corpora (ADVICE r1: rows whose every gram is frequent must
still pair — at minimum exact duplicates)."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from bibexpy_spark.operators import ngram


def _brute_pairs(rows, k, t):
    def grams(text):
        toks = [t for t in "".join(
            c.lower() if c.isalnum() else " " for c in text
        ).split() if t]
        if len(toks) >= k:
            return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
        return {" ".join(toks)}

    gs = {i: grams(t) for i, t in rows}
    out = set()
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        inter = len(gs[ia] & gs[ib])
        union = len(gs[ia] | gs[ib])
        if union and inter / union >= t:
            out.add(tuple(sorted((ia, ib))))
    return out


def test_mixed_corpus_equals_bruteforce(spark):
    rows = [
        ("a", "spark shuffle partitions and broadcast joins in practice"),
        ("b", "spark shuffle partitions and broadcast joins in production"),
        ("c", "a completely different text about connected components"),
        ("d", "spark shuffle partitions and broadcast joins in practice"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = ngram.gram_jaccard_pairs(df, "doc_id", "text", 3, 1, 2)
    got = {tuple(sorted((r["a_id"], r["b_id"]))) for r in pairs.collect()}
    assert got == _brute_pairs(rows, 3, 0.5)


def test_prefix_filter_equals_bruteforce_random(spark):
    """Prefix-filter losslessness (SSJoin/ppjoin theorem) under a random
    deterministic corpus with planted near-duplicates: the prefix plan and
    python brute force must agree exactly."""
    import random

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(60):
        n = rng.randint(3, 30)
        rows.append((f"d{i:03d}", " ".join(rng.choice(vocab) for _ in range(n))))
    # planted near-dups: light perturbations of existing docs
    for i in range(20):
        base_id, base = rows[rng.randrange(len(rows))]
        toks = base.split()
        if len(toks) > 4 and rng.random() < 0.7:
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        rows.append((f"p{i:03d}", " ".join(toks)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    for t_num, t_den in ((4, 5), (1, 2)):
        want = _brute_pairs(rows, 3, t_num / t_den)
        got_prefix = {
            tuple(sorted((r["a_id"], r["b_id"])))
            for r in ngram.gram_jaccard_pairs(
                df, "doc_id", "text", 3, t_num, t_den
            ).collect()
        }
        assert got_prefix == want, f"prefix plan diverged at t={t_num}/{t_den}"


def test_prefix_filter_boilerplate_corpus(spark):
    """Every doc keeps >= 1 prefix gram, so all-boilerplate corpora pair
    without any df cap or fallback: the exact duplicates are all caught,
    with and without unrelated unique docs beside them."""
    boiler = "the same exact boilerplate text repeated verbatim"
    base = [(f"b{i}", boiler) for i in range(6)]
    for rows in (
        base + [("u1", "a unique document about spark shuffles and joins here")],
        base + [("u1", "a unique document about spark shuffles and joins here"),
                ("u2", "another unique document about partition pruning here")],
    ):
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        pairs = ngram.gram_jaccard_pairs(df, "doc_id", "text", 3, 4, 5)
        got = {tuple(sorted((r["a_id"], r["b_id"]))) for r in pairs.collect()}
        assert got == _brute_pairs(rows, 3, 0.8)
        assert len(got) == 15  # all 6-choose-2 boilerplate pairs


def test_prefix_index_stats(spark):
    rows = [(f"b{i}", "same boiler text here always") for i in range(5)]
    rows.append(("u", "one unique document text body"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    st = ngram.prefix_index_stats(df, "doc_id", "text", 3, 4, 5).collect()[0]
    assert 0 < st["n_prefix_rows"] <= st["n_gram_rows"]
    assert 0 < st["prefix_fraction"] <= 1.0
    # the boilerplate docs' prefixes contain df=5 grams — reported, not silent
    assert st["max_prefix_df"] == 5


def test_prefix_index_stats_empty_corpus(spark):
    # ANSI mode (Spark 4 default) raises DIVIDE_BY_ZERO on the count=0
    # agg row even with a NULL numerator — must degrade to NULL, not crash
    df = spark.createDataFrame([], "doc_id string, text string")
    st = ngram.prefix_index_stats(df, "doc_id", "text", 3, 4, 5).collect()[0]
    assert st["n_gram_rows"] == 0
    assert st["prefix_fraction"] is None
    assert st["max_prefix_df"] is None


def test_gram_hash_kernel_matches_sql_equality_classes(spark):
    """with_gram_hashes (Arrow kernel, hot path) must induce the SAME gram
    equality classes as with_grams (the SQL spec): for every doc pair,
    |gh_a ∩ gh_b| / |gh_a ∪ gh_b| computed on hashes equals the Jaccard on
    gram STRINGS — on unicode, punctuation runs, digits, empties, and
    sub-k-token docs."""
    rows = [
        ("u1", "Héllo,   Wörld! ÉÉ 123"),
        ("u2", "hello world ee 123"),          # same classes after norm? (accents drop)
        ("p1", "a.b.c;d e_f g-h"),
        ("p2", "a b c d e f g h"),
        ("e1", ""),
        ("e2", "!!! ??? ..."),                  # normalizes to empty too
        ("s1", "one two"),                      # < k tokens: whole-doc gram
        ("s2", "one two"),
        ("n1", "42 7 42 7 42"),
        ("r1", "x " * 50),                      # one repeated token
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    k = 3
    g = {
        r["id"]: set(r["grams"])
        for r in ngram.with_grams(df, "doc_id", "text", k).collect()
    }
    h = {
        r["id"]: set(r["gh"])
        for r in ngram.with_gram_hashes(df, "doc_id", "text", k).collect()
    }
    assert set(g) == set(h)
    ids = sorted(g)
    for i, a in enumerate(ids):
        # same cardinalities (hash is injective on these gram sets)
        assert len(g[a]) == len(h[a]), a
        for b in ids[i + 1:]:
            inter_g = len(g[a] & g[b])
            inter_h = len(h[a] & h[b])
            assert inter_g == inter_h, (a, b, g[a], g[b])


def test_verify_endpoint_guard_drops_missing_keeps_duplicate(spark):
    """The regroup endpoint guard (ADVICE r3, refined r4) must DROP a
    candidate whose endpoint is absent from the side table (a lone row
    would self-verify to Jaccard 1.0) while a pair whose endpoint appears
    TWICE (a caller bug upstream) still verifies rather than silently
    vanishing from recall."""
    rows = [("a", "spark shuffle partition pruning broadcast join skew"),
            ("b", "spark shuffle partition pruning broadcast join skew")]
    hashed = ngram.with_gram_hashes(
        spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text", 3
    ).select(F.col("id"), F.col("gh"))
    dup = hashed.unionByName(hashed.filter(F.col("id") == "b"))

    cand = spark.createDataFrame(
        [("a", "b"), ("a", "ghost")], ["a_id", "b_id"]
    )
    got = {(r["a_id"], r["b_id"]) for r in
           ngram.verify_gram_pairs(cand, dup, 9, 10).collect()}
    assert got == {("a", "b")}  # ghost dropped, dup-endpoint pair kept


def test_verify_guard_drops_degenerate_self_pair(spark):
    """A caller-supplied candidate with a_id == b_id explodes to rows that
    match BOTH sides, so a >=1-per-side guard would self-verify it to
    Jaccard 1.0; the non-a count (_nb) must drop it (r4 review: keeps the
    three regroup guards — ngram/verify/containment — consistent)."""
    rows = [("a", "spark shuffle partition pruning broadcast join skew"),
            ("b", "spark shuffle partition pruning broadcast join skew")]
    hashed = ngram.with_gram_hashes(
        spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text", 3
    ).select("id", "gh")
    cand = spark.createDataFrame([("a", "a"), ("a", "b")], ["a_id", "b_id"])
    got = {(r["a_id"], r["b_id"]) for r in
           ngram.verify_gram_pairs(cand, hashed, 9, 10).collect()}
    assert got == {("a", "b")}  # the (a, a) self-pair must not emit


def test_cache_registry_and_stats_hashed_reuse(spark):
    """gram_jaccard_pairs exposes its persisted frame through
    cache_registry so a long-lived session can release it, and the stats
    companion accepts the precomputed gram-hash frame instead of re-running
    the most expensive stage (r4 review)."""
    rows = [
        ("a", "spark shuffle partitions and broadcast joins in practice"),
        ("b", "spark shuffle partitions and broadcast joins in production"),
        ("c", "a completely different text about connected components"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    reg = []
    pairs = ngram.gram_jaccard_pairs(
        df, "doc_id", "text", 3, 1, 2, cache_registry=reg
    )
    pairs.collect()
    assert len(reg) == 1 and reg[0].is_cached
    hashed = reg[0]
    # stats reuse the SAME hashed frame: results match the from-scratch path
    a = ngram.prefix_index_stats(df, "doc_id", "text", 3, 1, 2).collect()[0]
    b = ngram.prefix_index_stats(
        df, "doc_id", "text", 3, 1, 2, hashed=hashed
    ).collect()[0]
    assert a.asDict() == b.asDict()
    for f in reg:
        f.unpersist()
    assert not hashed.is_cached


def test_sketched_rowwise_verify_equals_plain(spark):
    """The count-bucket sketch bound (verify_gram_pairs sketch_meta) and
    the row-wise candidate path must be LOSSLESS: forcing the row-wise +
    sketch plan (candidate-mass threshold 0) must reproduce the aggregate
    plan's pairs exactly, at a low threshold on a gram-dense corpus."""
    import random

    import bibexpy_spark.operators.ngram as ng

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        words = [rng.choice(vocab) for _ in range(rng.randint(6, 30))]
        rows.append((i, " ".join(words)))
        if rng.random() < 0.4:  # near-dup with a few edits
            dup = list(words)
            for _ in range(rng.randint(0, 2)):
                dup[rng.randrange(len(dup))] = rng.choice(vocab)
            rows.append((1000 + i, " ".join(dup)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def collect(pairs):
        return {
            (r["a_id"], r["b_id"], r["inter"], r["union_n"], r["jaccard"])
            for r in pairs.collect()
        }

    base = collect(ngram.gram_jaccard_pairs(df, "doc_id", "text", 3, 1, 2))
    prev = ng.SKETCH_CANDIDATE_MASS
    ng.SKETCH_CANDIDATE_MASS = 0  # force the row-wise + sketch path
    try:
        forced = collect(ngram.gram_jaccard_pairs(df, "doc_id", "text", 3, 1, 2))
    finally:
        ng.SKETCH_CANDIDATE_MASS = prev
    assert forced == base and base  # identical pairs, and non-trivial


def test_gram_sketch_bound_dominates_intersection(spark):
    """sum_b min(ca, cb) >= |A ∩ B| for every pair — the exact-arithmetic
    property the verify prefilter relies on (checked directly against the
    kernel's gram sets)."""
    import numpy as np

    from bibexpy_spark.operators.ngram import SK_B, SK_LONGS

    rows = [(i, " ".join(f"t{(i * 7 + j * 3) % 23}" for j in range(5 + i % 17)))
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashed = ngram.with_gram_hashes(df, "doc_id", "text", 3)
    meta = {r["id"]: r for r in ngram.with_gram_sketch(hashed).collect()}
    gh = {r["id"]: np.array(r["gh"], dtype=np.int64) for r in hashed.collect()}

    def unpack(sk):
        out = []
        for w in sk:
            uw = np.uint64(w)
            out += [int((uw >> np.uint64(4 * l)) & np.uint64(15)) for l in range(16)]
        return np.array(out)

    ids = sorted(gh)
    for a in ids:
        for b in ids:
            if a >= b:
                continue
            inter = len(np.intersect1d(gh[a], gh[b]))
            if meta[a]["sk_ok"] and meta[b]["sk_ok"]:
                bound = int(np.minimum(unpack(meta[a]["sk"]), unpack(meta[b]["sk"])).sum())
                assert bound >= inter, (a, b, bound, inter)
