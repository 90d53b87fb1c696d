"""PageRank parity fixtures F1-F5 (FIXTURES.md §2; all expectations pinned
from /root/reference/crates/propagon/src/algos/pagerank.rs tests and
clients/python/tests/test_reference_vectors.py:82-93)."""

import math

import pytest

from conftest import job_ids_of, make_edges, place_stores, scores_dict

from propagon_spark.errors import InvalidParameterError
from propagon_spark.graph import Graph
from propagon_spark.graph.pagerank import pagerank
from propagon_spark.plans import blocks


# F1: matches (winner, loser) stored as loser → winner edges
# (pagerank.rs:262-275)
F1_EDGES = [("2", "1"), ("2", "3"), ("3", "1"), ("4", "1"), ("4", "2"), ("4", "3")]


@pytest.fixture(scope="module")
def g4(spark):
    g = Graph.from_edges(make_edges(spark, F1_EDGES))
    yield g
    g.unpersist()


@pytest.mark.parametrize("impl", ["csr", "join"])
def test_f1_one_iteration_sink_none(g4, impl):
    # pagerank.rs:284-304
    res = pagerank(g4, damping=0.85, iterations=1, sink="none", impl=impl)
    s = scores_dict(res.scores)
    exp = {"1": 0.427083, "3": 0.214583, "2": 0.108333, "4": 0.0375}
    for k, v in exp.items():
        assert abs(s[k] - v) < 1e-4, (k, s[k], v)
    assert res.iterations == 1


@pytest.mark.parametrize("impl", ["csr", "join"])
@pytest.mark.parametrize("sink", ["reverse", "all"])
def test_f1_ten_iterations_reverse_and_all(g4, sink, impl):
    # pagerank.rs:306-333 — same fixed point for both policies
    res = pagerank(g4, damping=0.85, iterations=10, sink=sink, impl=impl)
    s = scores_dict(res.scores)
    exp = {"1": 0.39064, "3": 0.27099, "2": 0.190172, "4": 0.14818}
    for k, v in exp.items():
        assert abs(s[k] - v) < 1e-4, (sink, k, s[k], v)
    assert abs(sum(s.values()) - 1.0) < 1e-5


@pytest.mark.parametrize("impl", ["csr", "join"])
def test_f2_analytic_ppr_cycle(spark, impl):
    # pagerank.rs:337-360 — 3-cycle, seed {1}, d=0.5, sink=none → (4/7,2/7,1/7)
    g = Graph.from_edges(make_edges(spark, [("1", "2"), ("2", "3"), ("3", "1")]))
    res = pagerank(
        g, damping=0.5, sink="none", seeds={"1": 1.0}, tol=1e-12, max_iterations=200,
        impl=impl,
    )
    s = scores_dict(res.scores)
    assert abs(s["1"] - 4 / 7) < 1e-9
    assert abs(s["2"] - 2 / 7) < 1e-9
    assert abs(s["3"] - 1 / 7) < 1e-9
    assert res.converged
    g.unpersist()


@pytest.mark.parametrize("impl", ["csr", "join"])
def test_f3_seeded_uniform_sink_chain(spark, impl):
    # pagerank.rs:362-379 — chain 1→2, seed {1}, d=0.5, uniform → (2/3, 1/3)
    g = Graph.from_edges(make_edges(spark, [("1", "2")]))
    res = pagerank(
        g, damping=0.5, sink="uniform", seeds={"1": 1.0}, tol=1e-12,
        max_iterations=200, impl=impl,
    )
    s = scores_dict(res.scores)
    assert abs(s["1"] - 2 / 3) < 1e-9
    assert abs(s["2"] - 1 / 3) < 1e-9
    g.unpersist()


@pytest.mark.parametrize("impl", ["csr", "join"])
def test_f4_seed_weight_normalization(spark, impl):
    # pagerank.rs:381-416 — 1⇄2, seeds {1:5, 2:5} → (0.5, 0.5)
    g = Graph.from_edges(make_edges(spark, [("1", "2"), ("2", "1")]))
    res = pagerank(
        g, damping=0.85, sink="none", seeds={"1": 5.0, "2": 5.0}, tol=1e-13,
        max_iterations=300, impl=impl,
    )
    s = scores_dict(res.scores)
    assert abs(s["1"] - 0.5) < 1e-12
    assert abs(s["2"] - 0.5) < 1e-12

    with pytest.raises(InvalidParameterError):
        pagerank(g, seeds={}, impl=impl)
    with pytest.raises(InvalidParameterError):
        pagerank(g, seeds={"nope": 1.0}, impl=impl)
    with pytest.raises(InvalidParameterError):
        pagerank(g, seeds={"1": 0.0}, impl=impl)
    with pytest.raises(InvalidParameterError):
        pagerank(g, seeds={"1": float("nan")}, impl=impl)
    g.unpersist()


@pytest.mark.parametrize("impl", ["csr", "join"])
def test_f5_langville_meyer(spark, impl):
    # test_reference_vectors.py:82-93 — 6-node, d=0.9, uniform sink
    edges = [
        ("1", "2"), ("1", "3"), ("3", "1"), ("3", "2"), ("3", "5"),
        ("4", "5"), ("4", "6"), ("5", "4"), ("5", "6"), ("6", "4"),
    ]
    g = Graph.from_edges(make_edges(spark, edges))
    res = pagerank(g, damping=0.9, iterations=200, sink="uniform", impl=impl)
    s = scores_dict(res.scores)
    exp = {"1": 0.03721, "2": 0.05396, "3": 0.04151, "4": 0.3751,
           "5": 0.206, "6": 0.2862}
    for k, v in exp.items():
        assert abs(s[k] - v) < 1e-4, (k, s[k], v)
    g.unpersist()


def test_bad_params(g4):
    with pytest.raises(InvalidParameterError):
        pagerank(g4, sink="bogus")
    with pytest.raises(InvalidParameterError):
        pagerank(g4, damping=1.5)


@pytest.mark.parametrize("impl", ["csr", "join"])
def test_checkpoint_interval_below_one_fails_before_any_job(spark, g4, tmp_path, impl):
    # an interval below 1 is rejected with the other parameters, before
    # any Spark job: the save hook takes the iteration modulo it
    for interval in (0, -3):
        jobs = job_ids_of(spark, lambda: pytest.raises(
            InvalidParameterError, pagerank, g4, iterations=2, impl=impl,
            checkpoint_interval=interval, checkpoint_dir=str(tmp_path)))
        assert jobs == [], interval


@pytest.mark.parametrize("impl", ["csr", "join"])
def test_seed_keys_naming_one_vertex_fail_before_any_job(spark, impl):
    # 1 and "1" both name vertex "1": CSR kept one of the two weights
    # (scores summing to 0.5) and join gave the vertex two state rows
    g = Graph.from_edges(make_edges(spark, [("1", "2"), ("2", "3"), ("3", "1"), ("3", "4")]))
    def run():
        with pytest.raises(InvalidParameterError, match="name the same vertex"):
            pagerank(g, iterations=3, sink="none", seeds={1: 1.0, "1": 1.0}, impl=impl)

    try:
        assert job_ids_of(spark, run) == []
    finally:
        g.unpersist()


def test_mass_leak_sink_none(g4):
    # Sink::None leaks mass (pagerank.rs:44-45): total < 1 after iterating
    res = pagerank(g4, iterations=5, sink="none")
    total = sum(scores_dict(res.scores).values())
    assert total < 1.0
    # parity mode records mass per materialization (no per-iteration delta —
    # reference parity mode has no early exit, pagerank.rs:104-105)
    assert all(math.isfinite(m["mass"]) for m in res.metrics)
    assert res.metrics[-1]["mass"] < 1.0


def test_convergence_metrics(g4):
    res = pagerank(g4, sink="uniform", tol=1e-8, max_iterations=100)
    assert res.converged
    assert res.metrics[-1]["l1_delta"] < 1e-8
    # deltas shrink monotonically-ish; at least last < first
    assert res.metrics[-1]["l1_delta"] < res.metrics[0]["l1_delta"]


def test_salting_equivalence(g4, monkeypatch):
    # hub salting must not change results: force every vertex to be a "hub"
    # salting lives in the join kernel only — force it on both runs
    from propagon_spark.graph import pagerank as pr

    base = scores_dict(
        pagerank(g4, iterations=10, sink="uniform", impl="join").scores
    )
    monkeypatch.setattr(pr, "_HUB_MIN_OUT_DEGREE", 1)
    monkeypatch.setattr(pr, "_HUB_SALTS", 4)
    salted = scores_dict(
        pagerank(g4, iterations=10, sink="uniform", impl="join").scores
    )
    for k in base:
        assert abs(base[k] - salted[k]) < 1e-12, k


def test_gather_repart_equivalence(g4, monkeypatch):
    # the repart gather plan (explicit hash exchange before the dst
    # aggregate — picked automatically for >=2M-vertex sparse graphs,
    # where the map-side partial agg table thrashes DRAM) must produce
    # identical ranks to the default map-side-agg plan
    from propagon_spark.graph import pagerank as pr

    res = pagerank(g4, iterations=10, sink="uniform", impl="join")
    assert res.timings["gather_mode"] == "agg"  # 4 vertices < 2M
    base = scores_dict(res.scores)
    monkeypatch.setattr(pr, "_REPART_MIN_VERTICES", 0)
    res = pagerank(g4, iterations=10, sink="uniform", impl="join")
    assert res.timings["gather_mode"] == "repart"
    repart = scores_dict(res.scores)
    for k in base:
        assert abs(base[k] - repart[k]) < 1e-12, k


def test_portable_parquet_block_path(spark, monkeypatch):
    # the hdfs/s3 block-store branch (Parquet blocks, global-dst gather,
    # bucket == -1 rows) never triggers on a POSIX checkpoint dir — force
    # it by making every path look remote, and pin it to the local shard
    # path bit-for-bit. A fresh Graph per branch: a Graph builds its
    # store once.
    import numpy as np

    from propagon_spark.canon import dedup_edges
    from propagon_spark.plans import blocks

    place_stores(monkeypatch, "workers")
    graphs = [Graph.from_edges(make_edges(spark, F1_EDGES)) for _ in range(2)]
    local_res = pagerank(graphs[0], iterations=10, sink="uniform", impl="csr")
    local = scores_dict(local_res.scores)
    monkeypatch.setattr(blocks, "_as_local_path", lambda p: None)
    portable_res = pagerank(graphs[1], iterations=10, sink="uniform", impl="csr")
    portable = scores_dict(portable_res.scores)
    assert local == portable
    # both branches count each src's edges while they build: the
    # out-degrees, summing to the dedup'd edges
    assert local_res.timings["edge_rows"] == len(F1_EDGES)
    assert portable_res.timings["edge_rows"] == len(F1_EDGES)
    for g in graphs:
        want = np.zeros(g.num_vertices, np.int64)
        for r in dedup_edges(g.edges).groupBy("src").count().collect():
            want[r["src"]] = r["count"]
        assert (g.store("out").src_degree == want).all()
        g.unpersist()


def test_seeded_csr_runs_no_lookup_job(spark, store_placement):
    # seed names resolve against the Graph's driver-held names: a seeded
    # CSR fit runs the jobs an unseeded one does (one per round on worker
    # shards, none on a driver-held store), and an unknown seed fails
    # with no Spark job at all
    import re

    g = Graph.from_edges(make_edges(spark, [("1", "2"), ("2", "3"), ("3", "1")]))
    try:
        kw = dict(damping=0.5, sink="none", iterations=5)
        pagerank(g, impl="csr", **kw)  # builds the Graph's store
        plain = len(job_ids_of(spark, lambda: pagerank(g, impl="csr", **kw)))
        res = []
        seeded = len(job_ids_of(spark, lambda: res.append(
            pagerank(g, impl="csr", seeds={"1": 1.0}, **kw))))
        assert seeded == plain == {"workers": 5, "driver": 0}[store_placement]
        join = scores_dict(pagerank(g, impl="join", seeds={"1": 1.0}, **kw).scores)
        for k, v in scores_dict(res[0].scores).items():
            assert abs(v - join[k]) < 1e-12, k
        msg = re.escape("unknown seed name(s): ['nope']")
        with pytest.raises(InvalidParameterError, match=msg):
            job_ids_of(spark, lambda: pagerank(
                g, impl="csr", seeds={"1": 1.0, "nope": 2.0}, **kw))
        assert len(job_ids_of(spark, lambda: pytest.raises(
            InvalidParameterError, pagerank, g, impl="csr",
            seeds={"nope": 1.0}, **kw))) == 0
    finally:
        g.unpersist()


def test_auto_reads_the_vertex_bound_at_call_time(g4, monkeypatch):
    # impl="auto" reads the store kernels' vertex bound on each call, as
    # k-core and LPA do: a bound patched after import picks the join kernel
    assert pagerank(g4, iterations=2).timings["kernel"] == "csr"
    monkeypatch.setattr(blocks, "DRIVER_STATE_MAX_VERTICES", 0)
    assert pagerank(g4, iterations=2).timings["kernel"] == "join"
