"""ops.iterate.rounds, the one round loop of the iterative frame
operators: convergence is read from each round's own checkpoint job, and
the loop releases the cached frames its rounds read."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

import __spark_entry__ as entry
from etl_data_processor_spark.ops import iterate
from etl_data_processor_spark.ops.graph import bfs_hops, connected_components
from etl_data_processor_spark.queries_ext2 import _pointer_double_closure

_ACTIONS = ("collect", "count", "isEmpty", "first", "head", "take")


def test_no_round_runs_a_separate_action(spark, monkeypatch):
    """Connected components and pointer doubling stop at a fixed point,
    and BFS expands a frontier, with no action of their own: an
    Observation on each round's eager checkpoint is filled by that
    checkpoint's job."""
    cls = type(spark.range(1))
    calls: list[str] = []

    def recording(name):
        real = getattr(cls, name)

        def wrapper(self, *args, **kwargs):
            calls.append(name)
            return real(self, *args, **kwargs)

        return wrapper

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (7, 8)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (7,)], "node long")
    nodes = spark.range(1, 80).select(F.col("id").alias("node"))

    with monkeypatch.context() as m:
        for name in _ACTIONS:
            m.setattr(cls, name, recording(name))
        cc = connected_components(chain, small_graph_edges=0)
        dist = bfs_hops(edges, seeds, max_hops=3)
        closure = _pointer_double_closure(nodes, base=3)
    assert calls == []

    assert {(r["node"], r["component"]) for r in cc.collect()} == {
        (i, 0) for i in range(13)
    }
    assert {(r["node"], r["dist"]) for r in dist.collect()} == {
        (1, 0), (2, 1), (3, 2), (4, 3), (7, 0), (8, 1)
    }
    want = set()
    for k in range(1, 80):
        cur, d = k, 0
        while cur >= 3:
            cur, d = cur // 3, d + 1
        want.add((k, cur, d))
    assert {(r["node"], r["anc"], r["dist"]) for r in closure.collect()} == want


def test_iterative_keys_leave_no_cached_plan(spark, sf_dir):
    """Each loop's cached working set is released once its final state is
    materialized, so a key's run leaves the CacheManager as it found it."""
    queries = entry.queries()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for key in (
        "q_label_propagation",
        "q_graph_bfs",
        "q_graph_sssp",
        "q_pagerank",
    ):
        assert queries[key](spark, sf_dir).collect(), key
        assert cache_manager.isEmpty(), key


def test_rounds_unpersists_working_when_a_step_raises(spark):
    working = spark.range(10).cache()
    working.count()

    def step(state, i):
        if i == 1:
            raise ValueError("step failed")
        return state.join(working, "id")

    with pytest.raises(ValueError, match="step failed"):
        iterate.rounds(spark.range(5), step, 3, working=(working,))
    assert working.storageLevel == StorageLevel(False, False, False, False)


def test_rounds_raises_without_a_fixed_point(spark):
    def step(state, _):
        return state.select((F.col("id") + 1).alias("id"))

    with pytest.raises(RuntimeError, match="no fixed point within 3 rounds"):
        iterate.rounds(
            spark.range(4), step, 3, signature=iterate.state_hash("id")
        )
