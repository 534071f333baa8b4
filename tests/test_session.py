"""Session helpers that need no SparkSession: host-derived local defaults
and the between-query state eviction."""

from __future__ import annotations

import os

from datafusion_distributed_experiment_spark.session import (
    default_spark_conf,
    evict_query_state,
    local_driver_memory,
)


def test_default_shuffle_width_follows_host_cpus(monkeypatch):
    """With ``SPARK_GRAFT_CPUS`` unset the shuffle width is the host's
    usable cores (not a fixed 32); when set, the deployment value wins."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    usable = len(os.sched_getaffinity(0))
    assert default_spark_conf()["spark.sql.shuffle.partitions"] == str(usable)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_spark_conf()["spark.sql.shuffle.partitions"] == "3"
    assert default_spark_conf(shuffle_partitions=7)["spark.sql.shuffle.partitions"] == "7"


def test_default_driver_memory_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = local_driver_memory()
    assert mem.endswith("m")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < int(mem[:-1]) < phys_mb
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert local_driver_memory() == "2g"


def test_evict_query_state_clears_cross_query_memos():
    """The minhash pair-graph memo (localCheckpoint blocks OUTSIDE the
    catalog cache) must not survive the between-query eviction: a timed
    dedup_clusters run that reused it would skip the LSH mine, its
    dominant cost, and time a different job. Eviction empties the memo,
    releases every checkpoint's blocks and clears the catalog cache."""
    from datafusion_distributed_experiment_spark.operators import dedup

    cleared: list[bool] = []

    class _Catalog:
        def clearCache(self):
            cleared.append(True)

    class _Spark:
        catalog = _Catalog()

    class _FakeCheckpoint:
        unpersisted = 0

        def unpersist(self):
            _FakeCheckpoint.unpersisted += 1

    dedup._PAIR_GRAPH_MEMO.clear()
    try:
        dedup._PAIR_GRAPH_MEMO[("app", "sf_a")] = (_FakeCheckpoint(), frozenset())
        dedup._PAIR_GRAPH_MEMO[("app", "sf_b")] = (_FakeCheckpoint(), frozenset())
        evict_query_state(_Spark())
        assert not dedup._PAIR_GRAPH_MEMO
        assert _FakeCheckpoint.unpersisted == 2
        assert cleared == [True]
    finally:
        dedup._PAIR_GRAPH_MEMO.clear()
