"""Where a Graph lives: built on the driver from an input of at most
``plans.blocks.DRIVER_STORE_MAX_EDGE_ROWS`` rows, with Spark above it;
its edge-block stores on the driver at or below that many Graph edge
rows, in worker shard files above it. Both placements build the same
Graph and run the same kernels."""

import gc
import os
import random
import weakref
from collections import Counter

import pytest
from pyspark.sql import DataFrame
from conftest import block_dirs, job_ids_of, make_edges, place_stores, scores_dict

from propagon_spark import canon
from propagon_spark.errors import EmptyDatasetError
from propagon_spark.graph import Graph
from propagon_spark.graph import kcore as kcore_mod
from propagon_spark.graph import lpa as lpa_mod
from propagon_spark.graph import pagerank as pagerank_mod
from propagon_spark.graph.bootstrap import bootstrap
from propagon_spark.graph.degree import degree
from propagon_spark.graph.kcore import kcore
from propagon_spark.graph.lpa import label_propagation
from propagon_spark.graph.pagerank import pagerank
from propagon_spark.plans import blocks
from propagon_spark.sources.repo_table import derive_edges, load_repo_table, synth_repo_table


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
    monkeypatch.setattr(pagerank_mod, "_spmv", in_driver(pagerank_mod._spmv))
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
    # driver-held store columns and degree vector, and the Graph's own
    # held edge columns
    rows = _random_rows()

    def held(g):
        store = g.store("undirected")
        assert isinstance(store, blocks.DriverBlocks)
        (src, dst), = store._bucket
        edges = g.driver_edges()
        assert edges.num_rows == g.num_edge_rows
        return [weakref.ref(a) for a in (src, dst, store.src_degree, edges)]

    g = Graph.from_edges(make_edges(spark, rows))
    refs = held(g)
    g.unpersist()
    gc.collect()
    assert [r() for r in refs] == [None] * 4

    g = Graph.from_edges(make_edges(spark, rows))
    kcore(g).collect()
    refs = held(g)
    edges = g.edges
    del g
    gc.collect()
    assert [r() for r in refs] == [None] * 4
    edges.unpersist()


def _build_inputs(spark):
    # a null endpoint on either side (its other name stays a vertex, the
    # edge goes), a self-loop, weighted parallel edges, non-ASCII names
    # ("ß" sorts before "é" by UTF-8 bytes); then integer-typed ids,
    # which are interned as strings ("10" < "100" < "9")
    named = spark.createDataFrame(
        [("b", "a", 1.0), ("a", "b", 2.0), ("a", "b", 2.0), ("a", "b", 0.5),
         ("c", "c", 1.0), (None, "d", 1.0), ("e", None, 3.0),
         ("é", "ß", 1.0), ("ß", "a", None)],
        "src string, dst string, weight double")
    ints = spark.createDataFrame(
        [(9, 10, 1.0), (10, 100, 1.0), (100, 9, 2.0), (100, 9, 2.0),
         (7, 7, 1.0), (None, 8, 1.0)],
        "src long, dst long, weight double")
    return {"named": named, "ints": ints}


@pytest.mark.parametrize("frame", ["named", "ints"])
def test_build_paths_agree(spark, monkeypatch, frame):
    df = _build_inputs(spark)[frame]
    got = {}
    for placement in ("driver", "workers"):
        place_stores(monkeypatch, placement)
        g = Graph.from_edges(df, weight="weight")
        try:
            assert ("driver_edges" in g._owned) == (placement == "driver")
            got[placement] = (
                sorted(tuple(r) for r in g.vocab.collect()),
                g.names.to_pylist(),
                g.num_vertices,
                g.num_edge_rows,
                Counter(tuple(r) for r in g.edges.collect()),
            )
        finally:
            g.unpersist()
        monkeypatch.undo()
    assert got["driver"] == got["workers"]
    vocab, names, n, m, edges = got["driver"]
    endpoints = {str(v) for r in df.collect() for v in r[:2] if v is not None}
    assert names == sorted(endpoints, key=str.encode)
    assert vocab == [(name, i) for i, name in enumerate(names)]
    assert n == len(names)
    # every row with two endpoints, parallel edges and the loop kept
    assert m == sum(edges.values()) == sum(
        r[0] is not None and r[1] is not None for r in df.collect())


@pytest.mark.parametrize("rows", [[], [(None, None)]], ids=["empty", "all_null"])
def test_build_paths_reject_no_vertices(spark, monkeypatch, rows, store_placement):
    # with the bound forced to 0, an empty input still probes to 0 rows
    # and is interned on the driver; the all-null row takes the Spark path
    df = spark.createDataFrame(rows, "src string, dst string")
    with pytest.raises(EmptyDatasetError):
        Graph.from_edges(df)


def test_small_build_runs_only_the_probe(spark):
    # below the bound a build over a local input runs one job, the
    # limit collect of the normalized input; the first k-core, LPA and
    # CSR PageRank on the Graph then run none, write no block dir and
    # create no edge frame, which the first dataflow kernel creates
    dirs = block_dirs(spark)
    built = []
    assert len(job_ids_of(spark, lambda: built.append(
        Graph.from_edges(make_edges(spark, _random_rows()))))) == 1
    g, = built
    try:
        assert len(job_ids_of(spark, lambda: (
            kcore(g).collect(), label_propagation(g).collect(),
            pagerank(g, impl="csr", sink="uniform", iterations=5).scores.collect(),
            pagerank(g, impl="csr", sink="reverse", iterations=5).scores.collect(),
        ))) == 0
        assert block_dirs(spark) == dirs
        assert "edges" not in g._owned
        assert degree(g, "out").count() == g.num_vertices
        assert "edges" in g._owned
    finally:
        g.unpersist()


def test_small_repo_table_build_runs_no_job(spark, tmp_path):
    # a local parquet repo table below the bound -> Graph -> CSR PageRank
    # runs no job: the loader takes its schema and the build its rows
    # from the parquet files on the driver; the derive plan, the vocab
    # and the edge frame run none, and none is created
    path = str(tmp_path / "repo.parquet")
    synth_repo_table(spark, n_repos=3, n_files_per_repo=10,
                     n_commits_per_repo=8).write.parquet(path)
    built = []

    def run():
        edges = derive_edges(load_repo_table(spark, path))
        built.append(Graph.from_edges(edges, weight="weight"))
        pagerank(built[0], impl="csr", sink="uniform", iterations=5).scores.collect()

    assert len(job_ids_of(spark, run)) == 0
    g, = built
    try:
        # neither frame was created: both are still their builders
        assert "edges" not in g._owned
        assert not isinstance(g.__dict__["_vocab"], DataFrame)
    finally:
        g.unpersist()
    with pytest.raises(RuntimeError, match="unpersisted"):
        g.edges


def test_large_repo_table_build_skips_the_repo_probe(spark, monkeypatch, tmp_path):
    # above the bound the footers' row count sends a loader frame's
    # build straight to Spark: one job fewer than the same table read
    # with schema inference, whose build probes the repo table first
    path = str(tmp_path / "repo.parquet")
    synth_repo_table(spark, n_repos=3, n_files_per_repo=10,
                     n_commits_per_repo=8).coalesce(1).write.parquet(path)
    cols = ("repo", "path", "commit", "lang", "content")
    frames = {"loader": load_repo_table(spark, path),
              "scan": spark.read.parquet(path).select(*cols)}
    assert frames["loader"].count() > 10
    monkeypatch.setattr(blocks, "DRIVER_STORE_MAX_EDGE_ROWS", 10)
    jobs = {}
    for name, repo in frames.items():
        built = []
        edges = derive_edges(repo)
        jobs[name] = len(job_ids_of(spark, lambda: built.append(
            Graph.from_edges(edges, weight="weight"))))
        assert "driver_edges" not in built[0]._owned
        built[0].unpersist()
    assert jobs["loader"] == jobs["scan"] - 1, jobs


def test_dense_id_stores_collect_edges_once(spark):
    # a Graph not built on the driver collects its edge frame once for
    # all of its driver stores; each store is its canon.py form as a set
    rows = [(0, 1), (0, 1), (1, 2), (2, 0), (3, 4), (4, 4), (5, 3), (6, 5)]
    g = Graph.from_dense_ids(spark.createDataFrame(rows, "src long, dst long"))
    plans = {
        "out": canon.dedup_edges,
        "out_reverse": lambda e: canon.reverse_sinks(canon.dedup_edges(e)),
        "undirected": canon.undirected_adjacency,
    }
    try:
        stores = {}
        assert len(job_ids_of(spark, lambda: stores.update(
            (form, g.store(form)) for form in plans))) == 1
        for form, plan in plans.items():
            (src, dst), = stores[form]._bucket
            pairs = list(zip(src.tolist(), dst.tolist()))
            assert len(pairs) == len(set(pairs))
            assert set(pairs) == {tuple(r) for r in plan(g.edges).collect()}, form
    finally:
        g.unpersist()


def test_bootstrap_replicates_cut_their_own_stores(spark, monkeypatch):
    # each replicate Graph shares g's vocab but not its driver-held
    # edges: an exact bootstrap of a CSR PageRank on a driver-built g
    # equals the same bootstrap on a Spark-built g with worker stores
    rows = _random_rows()

    def fit(rg):
        return pagerank(rg, impl="csr", sink="uniform", iterations=20).scores

    out = {}
    for placement in ("driver", "workers"):
        place_stores(monkeypatch, placement)
        g = Graph.from_edges(make_edges(spark, rows))
        try:
            res = bootstrap(g, fit, replicates=3, seed=5, method="exact")
            out[placement] = {r["name"]: r for r in res.intervals.collect()}
        finally:
            g.unpersist()
        monkeypatch.undo()
    drv, wrk = out["driver"], out["workers"]
    assert drv.keys() == wrk.keys()
    for name in drv:
        for col in ("score_mean", "score_lo", "score_hi"):
            assert abs(drv[name][col] - wrk[name][col]) < 1e-12, (name, col)
        for col in ("rank_lo", "rank_hi"):
            assert drv[name][col] == wrk[name][col], (name, col)
