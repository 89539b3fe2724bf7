"""Operators that scope session conf must restore it.

`graph.pagerank` sets spark.sql.shuffle.partitions (and AQE's initial
partition number) to its size-gated iteration count for the duration of
the loop (the AQE-off coalescing), through `session.conf_scope`; a leak
would silently re-plan every subsequent query in the session at the
graph's partition count. A key that was unset before must be unset again,
not pinned to the scoped value or to its default.
"""

from __future__ import annotations

from mapreduce_big_data_processing_spark.operators import graph as G
from mapreduce_big_data_processing_spark.session import conf_scope

_IPN = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def test_pagerank_restores_shuffle_partitions(spark):
    # shuffle.partitions is set before the loop, the initial partition
    # number is not: each must come back in its own state
    keys = ("spark.sql.shuffle.partitions", _IPN)
    session_ipn = spark.conf.get(_IPN, None)
    spark.conf.unset(_IPN)
    try:
        before = {k: spark.conf.get(k, None) for k in keys}
        assert before[keys[0]] is not None and before[_IPN] is None
        edges = spark.createDataFrame(
            [("a", "b", 0.5), ("b", "a", 1.0), ("a", "c", 0.5), ("c", "a", 1.0)],
            "src string, dst string, weight double",
        )
        ranks = G.pagerank(edges, max_iter=3, checkpoint_every=2)
        assert {k: spark.conf.get(k, None) for k in keys} == before  # restored before return
        assert ranks.count() == 3  # lazy tail still executes correctly
        assert {k: spark.conf.get(k, None) for k in keys} == before
    finally:
        if session_ipn is not None:
            spark.conf.set(_IPN, session_ipn)


def test_conf_scope_restores_on_error(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        with conf_scope(spark, {key: "3"}):
            assert spark.conf.get(key) == "3"
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before
