"""k-core fixture F7 (kcore.rs:108-154)."""

import pytest

from conftest import block_dirs, make_edges, peel_coreness, place_stores

from propagon_spark.graph import Graph
from propagon_spark.graph.kcore import _broadcast_threshold, kcore
from propagon_spark.plans import blocks


@pytest.fixture(params=["driver", "workers", "dataflow"])
def hindex_path(request, monkeypatch):
    """Run the H-index on the edge-block store, held on the driver or in
    worker shards, or, with the store's vertex bound forced to 0, on the
    dataflow rounds used above it."""
    place_stores(monkeypatch, request.param)
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
    rows = sorted(_random_rows())
    g = Graph.from_edges(make_edges(spark, rows))
    hi = {r["name"]: r["coreness"] for r in kcore(g).collect()}
    assert hi == peel_coreness(rows)
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
        rows = sorted(_random_rows() | {("loop", "loop")})
        g = Graph.from_edges(make_edges(spark, rows))
        hi = {r["name"]: r["coreness"] for r in kcore(g).collect()}
        g.unpersist()
    finally:
        spark.conf.set(key, old)
    assert hi == peel_coreness(rows)
    assert hi["loop"] == 0
    assert max(hi.values()) >= 2


def _src_degree(g, sym):
    """Each vertex's edge count as ``src`` in ``sym``, by a Spark job."""
    import numpy as np

    deg = np.zeros(g.num_vertices, np.int64)
    for r in sym.groupBy("src").count().collect():
        deg[r["src"]] = r["count"]
    return deg


def test_blocks_path_leaves_nothing_behind(spark, monkeypatch):
    # the Graph owns its stores: two k-core calls and an LPA call share
    # ONE "undirected" build, and Graph.unpersist() deletes its block
    # directory and leaves no new persistent RDD behind (the store path
    # keeps no per-round state and no persisted adjacency)
    from propagon_spark.graph.lpa import label_propagation

    place_stores(monkeypatch, "workers")
    builds = []
    build = blocks.build

    def counting_build(*args):
        builds.append(1)
        return build(*args)

    monkeypatch.setattr(blocks, "build", counting_build)
    rows = clique(["p", "q", "r", "s"]) + [("s", "t"), ("t", "u"), ("u", "s")]
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    before, dirs = persisted(), block_dirs(spark)
    g = Graph.from_edges(make_edges(spark, rows))
    c = [{r["name"]: r["coreness"] for r in kcore(g).collect()} for _ in range(2)]
    label_propagation(g).collect()
    assert builds == [1]
    assert len(block_dirs(spark) - dirs) == 1  # held by the Graph
    g.unpersist()
    assert persisted() - before == set()
    assert block_dirs(spark) == dirs
    assert c[0] == c[1] == {"p": 3, "q": 3, "r": 3, "s": 3, "t": 2, "u": 2}


def test_store_released_with_its_graph(spark, monkeypatch):
    # a Graph nobody unpersists still deletes its stores' blocks once it
    # is garbage-collected: no kernel result reads a store
    import gc

    place_stores(monkeypatch, "workers")
    dirs = block_dirs(spark)
    g = Graph.from_edges(make_edges(spark, clique(["a", "b", "c"])))
    assert {r["coreness"] for r in kcore(g).collect()} == {2}
    edges = g.edges
    assert len(block_dirs(spark) - dirs) == 1
    del g
    gc.collect()
    assert block_dirs(spark) == dirs
    edges.unpersist()


def test_unpersist_drops_the_store(spark, monkeypatch):
    # after Graph.unpersist() nothing holds the old store (its degree
    # vector included); a rebuild is a new store, released exactly once
    import gc
    import weakref

    released = []
    unpersist = blocks.EdgeBlocks.unpersist

    def counting_unpersist(self):
        released.append(self._dir)
        unpersist(self)

    monkeypatch.setattr(blocks.EdgeBlocks, "unpersist", counting_unpersist)
    place_stores(monkeypatch, "workers")
    dirs = block_dirs(spark)
    g = Graph.from_edges(make_edges(spark, clique(["a", "b", "c"])))
    kcore(g).collect()
    old = weakref.ref(g.store("undirected"))
    g.unpersist()
    gc.collect()
    assert old() is None
    kcore(g).collect()  # rebuilds from the edge frame's lineage
    del g
    gc.collect()
    assert len(released) == len(set(released)) == 2
    assert block_dirs(spark) == dirs


def test_portable_parquet_block_path(spark, monkeypatch):
    # k-core on the hdfs/s3 block branch (JVM Parquet blocks, forced by
    # making every path look remote) equals the local shard path. A
    # fresh Graph per branch: a Graph builds its store once. Both
    # branches count each src's edges while they build.
    from propagon_spark.canon import undirected_adjacency

    place_stores(monkeypatch, "workers")
    rows = sorted(_random_rows() | {("loop", "loop")})
    graphs = [Graph.from_edges(make_edges(spark, rows)) for _ in range(2)]
    local = [tuple(r) for r in kcore(graphs[0]).collect()]
    monkeypatch.setattr(blocks, "_as_local_path", lambda p: None)
    portable = [tuple(r) for r in kcore(graphs[1]).collect()]
    for g in graphs:
        assert (g.store("undirected").src_degree
                == _src_degree(g, undirected_adjacency(g.edges))).all()
        g.unpersist()
    assert local == portable
    assert dict((n, c) for n, _, c in local)["loop"] == 0
