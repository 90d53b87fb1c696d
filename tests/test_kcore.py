"""k-core fixture F7 (kcore.rs:108-154)."""

import pytest

from conftest import make_edges

from propagon_spark.graph import Graph
from propagon_spark.graph.kcore import _broadcast_threshold, kcore
from propagon_spark.plans import blocks


@pytest.fixture(params=["blocks", "dataflow"])
def hindex_path(request, monkeypatch):
    """Run the H-index on the edge-block store or, with the store's
    vertex bound forced to 0, on the dataflow rounds used above it."""
    if request.param == "dataflow":
        monkeypatch.setattr(blocks, "DRIVER_STATE_MAX_VERTICES", 0)
    return request.param


def clique(names):
    return [(a, b) for a in names for b in names if a < b]


def test_clique_triangle_pendant(spark):
    rows = clique(["p", "q", "r", "s"]) + [("s", "t"), ("t", "u"), ("s", "u"), ("u", "v")]
    g = Graph.from_edges(make_edges(spark, rows))
    c = {r["name"]: r["coreness"] for r in kcore(g).collect()}
    assert c == {"p": 3, "q": 3, "r": 3, "s": 3, "t": 2, "u": 2, "v": 1}
    g.unpersist()


def test_dedup_direction_blind(spark):
    # {a→b, b→a, a→b} → both coreness 1 (kcore.rs:142-154)
    g = Graph.from_edges(make_edges(spark, [("a", "b"), ("b", "a"), ("a", "b")]))
    c = {r["name"]: r["coreness"] for r in kcore(g).collect()}
    assert c == {"a": 1, "b": 1}
    g.unpersist()


def test_self_loop_only_is_core_zero(spark):
    g = Graph.from_edges(make_edges(spark, [("z", "z"), ("a", "b")]))
    c = {r["name"]: r["coreness"] for r in kcore(g).collect()}
    assert c == {"z": 0, "a": 1, "b": 1}
    g.unpersist()


def _random_rows():
    import random

    rng = random.Random(5)
    names = [f"v{i}" for i in range(40)]
    return {(a, b) for a, b in
            ((rng.choice(names), rng.choice(names)) for _ in range(180))
            if a != b}


def test_hindex_equals_peel_random_graph(spark, hindex_path):
    # method equivalence on a non-trivial graph: the iterated-H-index
    # fixpoint must assign the exact coreness the reference-shaped peel
    # cascade assigns (Lü et al. 2016 theorem; also oracle-checked vs
    # the recursive-CTE peel at 3 scale factors by check_oracles.py)
    g = Graph.from_edges(make_edges(spark, sorted(_random_rows())))
    hi = {r["name"]: r["coreness"] for r in kcore(g, method="hindex").collect()}
    pe = {r["name"]: r["coreness"] for r in kcore(g, method="peel").collect()}
    assert hi == pe
    assert max(hi.values()) >= 2  # graph dense enough to be a real case
    g.unpersist()


def test_hindex_equals_peel_without_broadcast(spark, monkeypatch):
    # broadcasting disabled: the dataflow H-index rounds run the same plan
    # as a shuffle join; a self-loop-only vertex must still get coreness 0
    monkeypatch.setattr(blocks, "DRIVER_STATE_MAX_VERTICES", 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert _broadcast_threshold(spark) == -1  # the unhinted plan runs
        g = Graph.from_edges(
            make_edges(spark, sorted(_random_rows() | {("loop", "loop")}))
        )
        hi = {r["name"]: r["coreness"] for r in kcore(g, method="hindex").collect()}
        pe = {r["name"]: r["coreness"] for r in kcore(g, method="peel").collect()}
        g.unpersist()
    finally:
        spark.conf.set(key, old)
    assert hi == pe
    assert hi["loop"] == 0
    assert max(hi.values()) >= 2


def _block_dirs(spark):
    import os
    from urllib.parse import urlparse

    ck = urlparse(spark.sparkContext.getCheckpointDir()).path
    return {d for d in os.listdir(ck) if d.startswith("csr_blocks_")}


def test_blocks_path_leaves_nothing_behind(spark, monkeypatch):
    # the store path persists nothing past the call (no per-round
    # checkpointed state, the adjacency released once the shards exist)
    # and deletes its block directory
    builds = []
    build = blocks.build

    def counting_build(*args):
        builds.append(1)
        return build(*args)

    monkeypatch.setattr(blocks, "build", counting_build)
    rows = clique(["p", "q", "r", "s"]) + [("s", "t"), ("t", "u"), ("u", "s")]
    g = Graph.from_edges(make_edges(spark, rows))
    jsc = spark.sparkContext._jsc
    persisted, dirs = jsc.getPersistentRDDs().size(), _block_dirs(spark)
    c = {r["name"]: r["coreness"] for r in kcore(g).collect()}
    assert builds == [1]
    assert jsc.getPersistentRDDs().size() == persisted
    assert _block_dirs(spark) == dirs
    g.unpersist()
    assert c == {"p": 3, "q": 3, "r": 3, "s": 3, "t": 2, "u": 2}


def test_portable_parquet_block_path(spark, monkeypatch):
    # k-core on the hdfs/s3 block branch (JVM Parquet blocks, forced by
    # making every path look remote) equals the local shard path
    g = Graph.from_edges(
        make_edges(spark, sorted(_random_rows() | {("loop", "loop")}))
    )
    local = [tuple(r) for r in kcore(g).collect()]
    monkeypatch.setattr(blocks, "_as_local_path", lambda p: None)
    portable = [tuple(r) for r in kcore(g).collect()]
    g.unpersist()
    assert local == portable
    assert dict((n, c) for n, _, c in local)["loop"] == 0
