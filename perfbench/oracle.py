"""Exact dup-cluster truth for the benchmark, without LSH.

Truth clusters are the transitive closure of exact shingle-Jaccard >= t
pairs, the same semantics as ``bibexpy_spark.oracle`` but sub-quadratic:

* a prefix filter (tokens ordered rarest first, prefix length
  ``|x| - ceil(t*|x|) + 1``) yields every pair with J >= t as a candidate,
  so it is lossless for the canonical t = 0.8;
* a length filter drops candidates whose sizes alone rule out J >= t;
* candidates already in the probing document's component are skipped, so a
  group of m near-identical documents costs about m verifications, not m²/2.

Recall and precision come from the truth x pipeline cluster contingency
table, so no pair list is ever built.
"""

from __future__ import annotations

import json
import os
from fractions import Fraction

import numpy as np
import pandas as pd

from bibexpy_spark import oracle
from bibexpy_spark.config import CANONICAL, DedupConfig
from bibexpy_spark.functions import kernels


def _threshold(cfg: DedupConfig) -> tuple[int, int]:
    t = Fraction(cfg.jaccard_threshold).limit_denominator(10**6)
    return t.numerator, t.denominator


def truth_labels(conv: pd.DataFrame, cfg: DedupConfig = CANONICAL) -> np.ndarray:
    """Component label per row of ``conv`` (columns conv_id, doc)."""
    num, den = _threshold(cfg)
    sets = kernels.shingle_sets(kernels.normalize_text(conv["doc"], cfg), cfg)
    n = len(sets)
    sizes = np.array([len(s) for s in sets], dtype=np.int64)

    # global token order: rarest first, so prefixes hold the rare tokens
    toks, counts = np.unique(np.concatenate(sets), return_counts=True)
    order = np.lexsort((toks, counts))
    rank = np.empty(len(toks), dtype=np.int64)
    rank[order] = np.arange(len(toks))
    ranked = [np.sort(rank[np.searchsorted(toks, s)]) for s in sets]

    # inverted index over prefix tokens: token rank -> doc indices (ascending)
    prefix_len = sizes - (num * sizes + den - 1) // den + 1
    index: dict[int, list[int]] = {}
    for i, (r, p) in enumerate(zip(ranked, prefix_len)):
        for tok in r[:p].tolist():
            index.setdefault(tok, []).append(i)
    postings = {tok: np.asarray(docs) for tok, docs in index.items()}

    label = np.arange(n)
    members = {i: [i] for i in range(n)}

    def union(a: int, b: int) -> None:
        la, lb = label[a], label[b]
        if len(members[la]) < len(members[lb]):
            la, lb = lb, la
        moved = members.pop(lb)
        label[moved] = la
        members[la].extend(moved)

    empty = np.nonzero(sizes == 0)[0]
    for i in empty[1:]:
        union(int(empty[0]), int(i))  # kernels.jaccard(empty, empty) == 1

    for x in range(n):
        if sizes[x] == 0:
            continue
        lists = [postings[t] for t in ranked[x][: prefix_len[x]].tolist()]
        cand = np.unique(np.concatenate(lists))
        cand = cand[cand < x]  # each unordered pair probed once
        # length filter: J >= num/den needs den*min >= num*max
        sx, sy = sizes[x], sizes[cand]
        cand = cand[(den * np.minimum(sx, sy) >= num * np.maximum(sx, sy))]
        cand = cand[label[cand] != label[x]]
        for y in cand.tolist():
            if label[y] == label[x]:
                continue
            inter = len(np.intersect1d(sets[x], sets[y], assume_unique=True))
            union_n = sx + sizes[y] - inter
            if inter * den >= num * union_n:
                union(x, y)
    return label


def truth_for_turns(turns: pd.DataFrame, cfg: DedupConfig = CANONICAL) -> dict[str, int]:
    conv = oracle.assemble(turns)
    return dict(zip(conv["conv_id"].tolist(), truth_labels(conv, cfg).tolist()))


def cached_truth(cache_path: str, turns: pd.DataFrame) -> dict[str, int]:
    """``truth_for_turns`` memoised in a JSON file keyed by the caller."""
    try:
        with open(cache_path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        pass
    truth = truth_for_turns(turns)
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(truth, f)
    os.replace(tmp, cache_path)
    return truth


def pair_scores(truth: dict[str, int], predicted: pd.DataFrame) -> tuple[float, float]:
    """(recall, precision) of the dup pairs implied by ``predicted``
    (conv_id, cluster_id) against those implied by ``truth``.

    Raises ValueError when the two cover different conversations."""
    pred = predicted.drop_duplicates("conv_id")
    if len(pred) != len(predicted) or set(pred["conv_id"]) != set(truth):
        raise ValueError(
            f"cluster output covers {len(predicted)} rows / "
            f"{pred['conv_id'].nunique()} conversations, truth has {len(truth)}"
        )
    t = pred["conv_id"].map(truth)

    def pairs(sizes: pd.Series) -> int:
        s = sizes.to_numpy(dtype=np.int64)
        return int((s * (s - 1) // 2).sum())

    both = pairs(pd.DataFrame({"t": t, "p": pred["cluster_id"]}).groupby(["t", "p"]).size())
    true_pairs = pairs(t.value_counts())
    pred_pairs = pairs(pred["cluster_id"].value_counts())
    recall = both / true_pairs if true_pairs else 1.0
    precision = both / pred_pairs if pred_pairs else 1.0
    return recall, precision


def same_partition(a: dict[str, object], b: dict[str, object]) -> bool:
    """True when two labelings group the same keys identically."""
    if set(a) != set(b):
        return False
    keys = sorted(a)
    fa = pd.factorize(pd.Series([a[k] for k in keys]))[0]
    fb = pd.factorize(pd.Series([b[k] for k in keys]))[0]
    return bool((fa == fb).all())


def cross_check(turns: pd.DataFrame, cfg: DedupConfig = CANONICAL) -> bool:
    """Prefix-filtered truth == brute-force all-pairs truth on ``turns``
    (meant for a few hundred conversations: the brute force is O(n²))."""
    conv = oracle.assemble(turns)
    brute = oracle.transitive_closure(
        conv["conv_id"].tolist(), oracle.all_pairs_jaccard(conv, cfg)
    )
    fast = dict(zip(conv["conv_id"].tolist(), truth_labels(conv, cfg).tolist()))
    return same_partition(fast, dict(zip(brute["conv_id"], brute["cluster_id"])))
