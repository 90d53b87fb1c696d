"""Where a Graph's edge-block stores live: on the driver at or below
``plans.blocks.DRIVER_STORE_MAX_EDGE_ROWS`` Graph edge rows, in worker
shard files above it. Both placements run the same kernels."""

import gc
import os
import random
import weakref

from conftest import block_dirs, job_ids_of, make_edges, place_stores, scores_dict

from propagon_spark.graph import Graph
from propagon_spark.graph import kcore as kcore_mod
from propagon_spark.graph import lpa as lpa_mod
from propagon_spark.graph import pagerank_csr
from propagon_spark.graph.kcore import kcore
from propagon_spark.graph.lpa import label_propagation
from propagon_spark.graph.pagerank import pagerank
from propagon_spark.plans import blocks


def _random_rows():
    rng = random.Random(17)
    names = [f"v{i}" for i in range(120)]
    rows = {(rng.choice(names), rng.choice(names)) for _ in range(700)}
    return sorted(rows | {("loop", "loop")})


def test_placements_agree(spark, monkeypatch):
    # k-core and LPA are integer kernels: the same bits on either
    # placement. PageRank's scatter-adds sum the shards in another order
    rows = _random_rows()
    out = {}
    for placement in ("driver", "workers"):
        place_stores(monkeypatch, placement)
        g = Graph.from_edges(make_edges(spark, rows))
        try:
            driver_held = isinstance(g.store("undirected"), blocks.DriverBlocks)
            assert driver_held == (placement == "driver")
            out[placement] = (
                [tuple(r) for r in kcore(g).collect()],
                [tuple(r) for r in label_propagation(g).collect()],
                scores_dict(pagerank(g, impl="csr", sink="uniform",
                                     iterations=30).scores),
            )
        finally:
            g.unpersist()
    (kd, ld, pd), (kw, lw, pw) = out["driver"], out["workers"]
    assert kd == kw
    assert max(c for _, _, c in kd) >= 2  # a real k-core case
    assert ld == lw
    assert len({lab for _, _, lab in ld}) < len(ld)  # labels did merge
    assert pd.keys() == pw.keys()
    for k in pd:
        assert abs(pd[k] - pw[k]) < 1e-12, k


def test_warm_driver_store_runs_no_job(spark, monkeypatch):
    # a warm k-core, LPA and CSR PageRank call on driver-held stores runs
    # no Spark job (so starts no Python worker), every round runs in this
    # process, and no block directory is ever written
    pids = []

    def in_driver(kernel):
        def run(*args):
            pids.append(os.getpid())
            return kernel(*args)
        return run

    monkeypatch.setattr(kcore_mod, "_hindex", in_driver(kcore_mod._hindex))
    monkeypatch.setattr(lpa_mod, "_mode", in_driver(lpa_mod._mode))
    monkeypatch.setattr(pagerank_csr, "_spmv", in_driver(pagerank_csr._spmv))
    dirs = block_dirs(spark)
    g = Graph.from_edges(make_edges(spark, _random_rows()))
    try:
        kw = dict(impl="csr", sink="uniform", iterations=5)
        cold = [kcore(g).collect(), pagerank(g, **kw).scores.collect()]
        pids.clear()
        warm = []
        jobs = job_ids_of(spark, lambda: warm.extend([
            kcore(g).collect(), pagerank(g, **kw).scores.collect(),
            label_propagation(g).collect()]))
        assert jobs == []
        assert warm[:2] == cold
        assert pids and set(pids) == {os.getpid()}
        assert block_dirs(spark) == dirs
    finally:
        g.unpersist()
    assert block_dirs(spark) == dirs


def test_placement_flips_at_the_bound(spark, monkeypatch):
    # a Graph of exactly the bound's edge rows is held on the driver; one
    # row over it writes worker shards. Both count the same degrees
    rows = _random_rows()
    stores = []
    for over in (0, 1):
        g = Graph.from_edges(make_edges(spark, rows))
        monkeypatch.setattr(blocks, "DRIVER_STORE_MAX_EDGE_ROWS",
                            g.num_edge_rows - over)
        stores.append((g, g.store("out")))
    (g0, at), (g1, above) = stores
    try:
        assert isinstance(at, blocks.DriverBlocks)
        assert type(above) is blocks.EdgeBlocks
        assert (at.src_degree == above.src_degree).all()
        assert at.edge_rows == above.edge_rows
    finally:
        g0.unpersist()
        g1.unpersist()


def test_driver_copy_freed_with_its_graph(spark):
    # Graph.unpersist() and garbage collection of the Graph both drop the
    # driver-held columns and degree vector
    rows = _random_rows()

    def held(g):
        store = g.store("undirected")
        assert isinstance(store, blocks.DriverBlocks)
        (src, dst), = store._bucket
        return [weakref.ref(a) for a in (src, dst, store.src_degree)]

    g = Graph.from_edges(make_edges(spark, rows))
    refs = held(g)
    g.unpersist()
    gc.collect()
    assert [r() for r in refs] == [None] * 3

    g = Graph.from_edges(make_edges(spark, rows))
    kcore(g).collect()
    refs = held(g)
    edges = g.edges
    del g
    gc.collect()
    assert [r() for r in refs] == [None] * 3
    edges.unpersist()
