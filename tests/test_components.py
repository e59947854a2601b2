"""Connected-components tests: both execution modes (distributed
large-star/small-star loop and driver union-find shortcut) must produce the
oracle's transitive closure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bibexpy_spark.config import CANONICAL
from bibexpy_spark.operators import components
from bibexpy_spark.plans import inspect


@pytest.fixture(scope="module")
def graph(spark):
    # path 1-2-3-4-5, triangle 10-11-12, isolated 20, two-node 30-31
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (30, 31)],
        ["a_id", "b_id"],
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 12, 20, 30, 31]], ["conv_id"]
    )
    return edges, nodes


EXPECTED = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10,
            20: 20, 30: 30, 31: 30}


def _check(df):
    got = {r["conv_id"]: r["cluster_id"] for r in df.collect()}
    assert got == EXPECTED


def test_driver_mode(spark, graph):
    edges, nodes = graph
    _check(components.connected_components(edges, nodes, CANONICAL))
    # the fixture has exactly 8 distinct edges: a threshold of 8 still takes
    # the driver union-find (its assignment is a createDataFrame, a local
    # table scan in the plan), 7 falls through to the star loop
    for threshold, driver in ((8, True), (7, False)):
        out = components.connected_components(
            edges, nodes, CANONICAL, driver_threshold=threshold
        )
        assert ("LocalTableScan" in inspect.explain_formatted(out)) == driver
        _check(out)


def test_distributed_loop_mode(spark, graph):
    edges, nodes = graph
    _check(
        components.connected_components(
            edges, nodes, CANONICAL, driver_threshold=0
        )
    )


def test_string_ids(spark):
    edges = spark.createDataFrame([("b", "c"), ("a", "b")], ["a_id", "b_id"])
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("z",)], ["conv_id"])
    for thr in (0, 10**6):
        got = {
            r["conv_id"]: r["cluster_id"]
            for r in components.connected_components(
                edges, nodes, CANONICAL, driver_threshold=thr
            ).collect()
        }
        assert got == {"a": "a", "b": "a", "c": "a", "z": "z"}


def test_long_chain_converges(spark):
    """Adversarial path graph: the star loop must converge within
    cc_max_iter (log-round contraction)."""
    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["a_id", "b_id"])
    nodes = spark.createDataFrame([(i,) for i in range(n + 1)], ["conv_id"])
    out = components.connected_components(
        edges, nodes, CANONICAL, driver_threshold=0
    )
    assert out.select("cluster_id").distinct().count() == 1
    assert out.agg(F.min("cluster_id")).first()[0] == 0


def test_struct_ids_distributed_cc_path(spark):
    """Struct keys must survive the distributed large/small-star loop too
    (driver_threshold=0 forces the iterative path)."""
    from pyspark.sql import Row

    ids = [Row(hi=i % 3, lo=i) for i in range(12)]  # deliberate hi collisions
    nodes = spark.createDataFrame([(i,) for i in ids], "conv_id struct<hi:bigint,lo:bigint>")
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(0, 12, 2)],  # 6 two-node comps
        "a_id struct<hi:bigint,lo:bigint>, b_id struct<hi:bigint,lo:bigint>",
    )
    out = components.connected_components(
        edges, nodes, driver_threshold=0
    ).collect()
    lab = {tuple(r["conv_id"]): tuple(r["cluster_id"]) for r in out}
    for i in range(0, 12, 2):
        a, b = tuple(ids[i]), tuple(ids[i + 1])
        assert lab[a] == lab[b] == min(a, b)
