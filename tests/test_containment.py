"""Suffix-array containment: kernel vs str.find (the independent check —
python's own substring search, no shared code), backend equivalence
(suffix-array verify == JVM instr verify over identical candidates, same
pairs and offsets), and recall of both general backends against the
brute-force containment oracle on the fixture corpus (reference analogue:
shorter reference string folded into the longer on key containment,
MergeDB.py:210-278)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from bibexpy_spark import oracle
from bibexpy_spark.config import CANONICAL
from bibexpy_spark.functions import kernels, udfs
from bibexpy_spark.operators import assembly, containment


# ---------------------------------------------------------------------- kernel


def test_suffix_array_matches_naive_sort():
    for s in [b"", b"a", b"banana", b"aaaaaaaa", b"abracadabra", b"mississippi"]:
        sa = kernels.suffix_array(s)
        naive = sorted(range(len(s)), key=lambda i: s[i:])
        assert list(sa) == naive, s


def test_sa_find_matches_str_find_randomized():
    """300 random texts over a 3-letter alphabet (maximal repeat structure),
    patterns drawn from the text, mutated, and absent — leftmost-occurrence
    semantics must equal bytes.find everywhere."""
    rng = np.random.default_rng(4242)
    alphabet = b"abc"
    for _ in range(300):
        n = int(rng.integers(0, 60))
        text = bytes(alphabet[i] for i in rng.integers(0, 3, n))
        sa = kernels.suffix_array(text)
        pats = [b"", b"zzz", text, text + b"x"]
        if n:
            for _ in range(6):
                i = int(rng.integers(0, n))
                j = int(rng.integers(i, min(n, i + 10) + 1))
                pats.append(text[i:j])
                pats.append(text[i:j] + b"b")
        for pat in pats:
            assert kernels.sa_find(text, sa, pat) == text.find(pat), (text, pat)


def test_sa_find_leftmost_not_lexicographic():
    """'ab' occurs at 0 and 3 in 'abzab'; the lexicographically smallest
    matching suffix is 'ab' (offset 3) but find must return 0."""
    text = b"abzab"
    sa = kernels.suffix_array(text)
    assert kernels.sa_find(text, sa, b"ab") == 0


# ------------------------------------------------------------------- operator


def _signed(spark, turns_df):
    conv = assembly.assemble_docs(turns_df)
    return udfs.with_signature_columns(conv, CANONICAL, text_col="doc")


def _verified(signed, backend, **kw):
    """The general pass's interior leg as the pipeline runs it: the shared
    shingle candidates verified by ``backend`` -> {(inner, outer): pos}."""
    kw = {"sample_m": 16, "containment_threshold": 0.9,
          "max_shingle_freq": 100_000, **kw}
    cand = containment._oriented_containment_candidates(signed, **kw)
    rows = containment._verify_with_pos(cand, backend).collect()
    got = {(r["inner_id"], r["outer_id"]): r["pos"] for r in rows}
    assert len(got) == len(rows)  # unique pairs, no dup emissions
    return got


def _both_backends(signed, **kw):
    """Both verify backends over identical candidates: the same pairs at
    the same offsets."""
    via_contains = _verified(signed, "contains", **kw)
    via_sa = _verified(signed, "suffix_array", **kw)
    assert via_sa == via_contains
    return via_sa


def test_suffix_backend_equals_contains_backend(spark, turns_df):
    signed = _signed(spark, turns_df)
    got = _both_backends(signed)
    assert got

    # pos is the true leftmost offset in the outer's normalized text
    norms = {r["conv_id"]: r["norm_text"] for r in signed.select("conv_id", "norm_text").collect()}
    for (inner, outer), pos in got.items():
        assert pos == norms[outer].find(norms[inner]), (inner, outer, pos)


def test_general_backends_cover_oracle_containment(spark, turns_pd, turns_df):
    """Every brute-force containment pair whose inner is long enough to
    carry a full shingle (the min-m capture precondition) is found; the
    fixture's `contain` class is token-aligned so capture is lossless."""
    signed = _signed(spark, turns_df)
    exp = oracle.containment_pairs(oracle.assemble(turns_pd), CANONICAL)
    norm = kernels.normalize_text(oracle.assemble(turns_pd)["doc"], CANONICAL)
    ids = oracle.assemble(turns_pd)["conv_id"]
    long_enough = {
        i for i, t in zip(ids, norm) if len(t.split()) >= CANONICAL.shingle_k
    }
    expected = {
        (r.inner_id, r.outer_id)
        for r in exp.itertuples()
        if r.inner_id in long_enough
    }
    assert expected, "fixture corpus must exercise the contain class"
    missing = expected - set(_both_backends(signed))
    assert not missing, f"general backends missed {len(missing)} oracle pairs: {sorted(missing)[:5]}"


def test_pipeline_general_containment_mode(spark):
    """An INTERIOR containment (inner mid-outer, not a prefix) is invisible
    to the default prefix pass but caught by both general modes with the
    correct offset; the prefix-contained pair appears in both with pos 0."""
    from bibexpy_spark import pipeline

    inner = "a distinctive inner conversation segment with plenty of shingle tokens inside"
    prefix_inner = "completely unrelated opening preamble crafted for this particular fixture"
    outer = prefix_inner + " " + inner + " and a closing remark"
    rows = [
        ("mid", 0, "user", inner, ""),
        ("big", 0, "user", outer, ""),
        ("pre", 0, "user", prefix_inner, ""),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    norm_outer = kernels.normalize_text(pd.Series([outer]), CANONICAL).iloc[0]
    norm_inner = kernels.normalize_text(pd.Series([inner]), CANONICAL).iloc[0]

    res_prefix = pipeline.run_dedup(spark, turns, with_simhash_pass=False)
    assert "containment_pairs" not in res_prefix
    pref_pairs = {
        (r["inner_id"], r["outer_id"])
        for r in res_prefix["containment_prefix"].collect()
    }
    assert ("mid", "big") not in pref_pairs
    assert ("pre", "big") in pref_pairs

    for mode in ("general", "general_sa"):
        res = pipeline.run_dedup(
            spark, turns, with_simhash_pass=False, containment_mode=mode
        )
        got = {
            (r["inner_id"], r["outer_id"]): r["pos"]
            for r in res["containment_pairs"].collect()
        }
        assert got[("mid", "big")] == norm_outer.find(norm_inner) > 0, mode
        assert got[("pre", "big")] == 0, mode


def _turns_df(spark, docs: dict[str, str]):
    rows = [(cid, 0, "user", txt, "") for cid, txt in docs.items()]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )


def test_general_containment_delta_equals_batch(spark):
    """Incremental contract: prior pairs ∪ delta pairs == batch pass over
    old ∪ new, and the delta emits exactly the >=1-new-endpoint pairs with
    identical offsets — for BOTH verify backends."""
    from bibexpy_spark.operators.containment import general_containment_pairs

    seg_a = "one shared distinctive segment with enough shingle tokens for capture"
    seg_b = "a second distinctive block of words long enough to shingle cleanly"
    old = {
        "o_outer": "opening words before the payload " + seg_a + " trailing old words",
        "o_inner": seg_a,
        "o_quiet": "an unrelated old conversation about something entirely different here",
    }
    new = {
        "n_inner": seg_a,  # interior of o_outer; equal-text vs o_inner is NOT strict containment
        "n_outer": "fresh preamble then " + seg_b + " then " + seg_a + " and closure",
        "n_quiet": "a brand new conversation mentioning nothing shared with others at all",
    }
    old_signed = _signed(spark, _turns_df(spark, old))
    new_signed = _signed(spark, _turns_df(spark, new))
    all_signed = _signed(spark, _turns_df(spark, {**old, **new}))
    kw = dict(max_shingle_freq=100_000)

    for backend in ("contains", "suffix_array"):
        batch_all = {
            (r["inner_id"], r["outer_id"]): r["pos"]
            for r in general_containment_pairs(
                all_signed, CANONICAL, backend=backend, **kw
            ).collect()
        }
        batch_old = {
            (r["inner_id"], r["outer_id"]): r["pos"]
            for r in general_containment_pairs(
                old_signed, CANONICAL, backend=backend, **kw
            ).collect()
        }
        delta = {
            (r["inner_id"], r["outer_id"]): r["pos"]
            for r in general_containment_pairs(
                new_signed, CANONICAL, old_signed, backend=backend, **kw
            ).collect()
        }
        new_ids = set(new)
        expected_delta = {
            p: pos for p, pos in batch_all.items() if p[0] in new_ids or p[1] in new_ids
        }
        assert delta == expected_delta, backend
        assert {**batch_old, **delta} == batch_all, backend
        # the fixture must actually exercise old-new containment both ways
        assert ("o_inner", "n_outer") in delta and ("n_inner", "o_outer") in delta


def test_hot_outer_amortization_shape(spark):
    """The pile-up case the SA backend exists for: many inners against one
    hot outer verify in a single group, all with correct offsets."""
    inners = [f"unique inner segment number {i} with enough tokens to shingle fully" for i in range(12)]
    outer = " then ".join(inners)
    rows = [(f"in{i}", 0, "user", txt, "") for i, txt in enumerate(inners)]
    rows.append(("out", 0, "user", outer, ""))
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    signed = _signed(spark, turns)
    got = _both_backends(signed, containment_threshold=0.8)
    assert {(f"in{i}", "out") for i in range(12)} <= set(got)
    norm_outer = kernels.normalize_text(pd.Series([outer]), CANONICAL).iloc[0]
    positions = sorted(pos for (_, o), pos in got.items() if o == "out")
    assert positions[0] == 0 and positions == sorted(set(positions))
    assert all(0 <= p < len(norm_outer) for p in positions)


# ------------------------------------------------------- cluster edge opt-in


def _edge_fixture_turns(spark):
    """Three conversations: ``inner`` is a verbatim prefix of ``outer`` but
    only ~10% of its content (Jaccard far below threshold — NOT a near-dup),
    plus an unrelated singleton."""
    import pandas as pd  # noqa: PLC0415

    shared = [f"alpha beta gamma token{i} delta" for i in range(3)]
    extra = [f"unrelated filler content block number {i} with many words" for i in range(30)]
    rows = []
    for i, t in enumerate(shared):
        rows.append(("inner", i, "user", t, "", 0))
    for i, t in enumerate(shared + extra):
        rows.append(("outer", i, "user", t, "", 0))
    rows.append(("solo", 0, "user", "completely different text about nothing shared", "", 0))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
    return spark.createDataFrame(pdf)


def test_containment_edges_fold_contained_into_cluster(spark):
    """Default: containment pairs are a SIGNAL (inner/outer stay separate
    clusters — Jaccard is ~0.1).  With extra_cluster_edges=('containment',)
    the pair joins the edge set and the contained conversation is FOLDED
    into its container's cluster (reference merge_references semantics,
    MergeDB.py:210-278)."""
    from bibexpy_spark import pipeline

    turns = _edge_fixture_turns(spark)
    base = pipeline.run_dedup(
        spark, turns, with_containment=True, with_simhash_pass=False
    )
    got = {r["conv_id"]: r["cluster_id"] for r in base["clusters"].collect()}
    assert got["inner"] != got["outer"], "fixture must not be a Jaccard dup"
    # the signal itself exists
    sig = {(r["inner_id"], r["outer_id"])
           for r in base["containment_prefix"].collect()}
    assert ("inner", "outer") in sig

    folded = pipeline.run_dedup(
        spark, turns, with_containment=True, with_simhash_pass=False,
        extra_cluster_edges=("containment",),
    )
    got2 = {r["conv_id"]: r["cluster_id"] for r in folded["clusters"].collect()}
    assert got2["inner"] == got2["outer"] == "inner"  # min conv_id wins
    assert got2["solo"] == "solo"


def test_extra_edges_validation_and_simhash_monotone(spark, turns_df, tmp_path):
    """Unknown/unavailable edge sources and an unknown containment mode
    raise — fold_state before it reads the state; adding simhash edges can
    only merge clusters (edge-superset monotonicity), never split them."""
    import pytest  # noqa: PLC0415

    from bibexpy_spark import incremental, pipeline

    with pytest.raises(ValueError, match="unknown containment_mode"):
        pipeline.run_dedup(spark, turns_df, containment_mode="nope")
    # over a prefix-mode state a misspelt mode is an unknown mode, not a
    # missing containment_pairs/ table
    _, state = incremental.fold_state(
        spark, turns_df, None, with_containment=True, with_simhash_pass=False,
    )
    incremental.write_state(str(tmp_path), state)
    with pytest.raises(ValueError, match="unknown containment_mode"):
        incremental.fold_state(
            spark, turns_df, str(tmp_path), with_containment=True,
            containment_mode="nope",
        )
    with pytest.raises(ValueError, match="unknown extra_cluster_edges"):
        pipeline.run_dedup(spark, turns_df, extra_cluster_edges=("nope",))
    with pytest.raises(ValueError, match="needs with_containment"):
        pipeline.run_dedup(
            spark, turns_df, with_containment=False,
            extra_cluster_edges=("containment",),
        )
    with pytest.raises(ValueError, match="needs with_simhash_pass"):
        pipeline.run_dedup(
            spark, turns_df, with_simhash_pass=False,
            extra_cluster_edges=("simhash",),
        )

    base = pipeline.run_dedup(spark, turns_df, with_containment=False)
    merged = pipeline.run_dedup(
        spark, turns_df, with_containment=False,
        extra_cluster_edges=("simhash",),
    )
    n_base = base["clusters"].select("cluster_id").distinct().count()
    n_merged = merged["clusters"].select("cluster_id").distinct().count()
    assert n_merged <= n_base
    # partition refinement: every base cluster maps into ONE merged cluster
    j = (
        base["clusters"].withColumnRenamed("cluster_id", "c_base")
        .join(merged["clusters"], "conv_id")
        .select("c_base", "cluster_id").distinct()
        .groupBy("c_base").count().filter("count > 1").count()
    )
    assert j == 0


def test_verify_pos_char_offsets_non_ascii(spark):
    """pos contract: CHARACTER offset (instr semantics) under BOTH verify
    backends even when normalization leaves non-ASCII in the text (the fold
    is config-dependent).  Regression: the suffix-array backend used to emit
    the raw UTF-8 BYTE offset, diverging from `contains` on multibyte
    outers."""
    rows = [
        ("i1", "o1", "wörld", "héllo zz wörld"),
        ("i2", "o1", "héllo", "héllo zz wörld"),
        ("i3", "o2", "naïve", "ααα naïve ββ"),
        ("i4", "o2", "β", "ααα naïve ββ"),
        ("i5", "o3", "plain", "all ascii plain text"),
    ]
    cand = spark.createDataFrame(
        rows,
        "inner_id string, outer_id string, inner_text string, outer_text string",
    )
    exp = {(i, o): outer.find(inner) for i, o, inner, outer in rows}
    for backend in ("contains", "suffix_array"):
        got = {
            (r["inner_id"], r["outer_id"]): r["pos"]
            for r in containment._verify_with_pos(cand, backend).collect()
        }
        assert got == exp, backend


def test_prefix_leg_lossless_for_short_and_edge_inners(spark):
    """The char-keyed prefix leg (r4 review fix) must catch EVERY true
    prefix pair, including the two classes the old first-N-token key
    missed: inners shorter than N tokens, and exactly-N-token inners whose
    last token char-extends in the outer.  Verified against a brute-force
    startswith oracle, batch AND delta variants."""
    long_tail = " ".join(f"tok{i}" for i in range(30))
    rows = [
        ("short_in", "hello world"),                       # 2 tokens < N=8
        ("short_out", "hello world " + long_tail),
        ("edge_in", "a b c d e f g foo"),                  # exactly 8 tokens
        ("edge_out", "a b c d e f g foobar " + long_tail),  # last token extends
        ("edge_out2", "a b c d e f g foo " + long_tail),   # token-aligned
        ("tiny_in", "x"),                                  # 1-char inner
        ("tiny_out", "xy z " + long_tail),
        ("noise", "completely different text " + long_tail),
    ]
    signed = spark.createDataFrame(rows, "conv_id string, norm_text string")
    want = {
        (a, b)
        for a, ta in rows
        for b, tb in rows
        if a != b and len(ta) < len(tb) and tb.startswith(ta)
    }
    got = {
        (r["inner_id"], r["outer_id"])
        for r in containment.prefix_containment_pairs(signed, CANONICAL).collect()
    }
    assert got == want
    assert ("short_in", "short_out") in got     # < N tokens
    assert ("edge_in", "edge_out") in got       # char-extended Nth token
    assert ("tiny_in", "tiny_out") in got       # 1-char prefix

    # delta contract: split old/new, delta emits exactly the >=1-new pairs
    new_ids = {"short_out", "edge_in", "tiny_in"}
    old = signed.filter(~F.col("conv_id").isin(*new_ids))
    new = signed.filter(F.col("conv_id").isin(*new_ids))
    got_d = {
        (r["inner_id"], r["outer_id"])
        for r in containment.prefix_containment_pairs(
            new, CANONICAL, old
        ).collect()
    }
    want_d = {(a, b) for a, b in want if a in new_ids or b in new_ids}
    assert got_d == want_d


def test_containment_index_stats_one_row(spark, turns_df, tmp_path):
    """The never-silent df-cap contract: the index's df aggregate observes
    ``hot_shingles`` (dropped by the cap) and ``indexed_shingles``
    (distinct, before the cap), equal to a driver-side recount, and the
    pipeline logs them on its ``contain_general`` stage row."""
    import json
    import os
    from collections import Counter

    from bibexpy_spark import pipeline
    from bibexpy_spark.lineage import Counters, RunContext

    signed = _signed(spark, turns_df)
    df = Counter(
        sh for r in signed.select("shingles").collect() for sh in r["shingles"]
    )
    assert sum(n > 2 for n in df.values()) > 0  # cap 2 really drops some
    for cap in (2, 10**9):
        counts = Counters("hot_shingles", "indexed_shingles")
        containment.general_containment_pairs(
            signed, CANONICAL, max_shingle_freq=cap, shingle_counts=counts
        ).collect()
        assert counts.get == {
            "hot_shingles": sum(n > cap for n in df.values()),
            "indexed_shingles": len(df),
        }

    run = RunContext(spark, CANONICAL, str(tmp_path / "wh"), run_id="cap",
                     input_token="t")
    pipeline.run_dedup(spark, turns_df, run=run, with_simhash_pass=False,
                       containment_mode="general")
    with open(os.path.join(run.run_dir, "metrics.jsonl")) as f:
        row = next(m for m in map(json.loads, f) if m["stage"] == "contain_general")
    assert row["indexed_shingles"] == len(df)
    assert row["hot_shingles"] == sum(n > 10_000 for n in df.values())


def test_prefix_containment_builds_without_driver_jobs(spark):
    """prefix_containment_pairs must be PURE plan construction: the short
    legs' observed-length prune rides the plan (broadcast semi on a
    distinct-klen subquery), never a build-time .collect() — baked length
    literals would silently lose pairs at lengths that appear only when a
    re-executed plan's source has changed (r4 review)."""
    sc = spark.sparkContext
    rows = [("i", "hello"), ("o", "hello world and a much longer tail")]
    signed = spark.createDataFrame(rows, "conv_id string, norm_text string")
    group = "probe-containment-lazy"
    sc.setJobGroup(group, "plan construction must run zero jobs")
    try:
        pairs = containment.prefix_containment_pairs(signed, CANONICAL)
        pairs_d = containment.prefix_containment_pairs(
            signed, CANONICAL, signed.limit(0)
        )
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    got = {(r["inner_id"], r["outer_id"]) for r in pairs.collect()}
    assert got == {("i", "o")}
    got_d = {(r["inner_id"], r["outer_id"]) for r in pairs_d.collect()}
    assert got_d == {("i", "o")}
