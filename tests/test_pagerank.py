"""PageRank parity fixtures F1-F5 (FIXTURES.md §2; all expectations pinned
from /root/reference/crates/propagon/src/algos/pagerank.rs tests and
clients/python/tests/test_reference_vectors.py:82-93)."""

import math

import pytest

from conftest import make_edges, scores_dict

from propagon_spark.errors import InvalidParameterError
from propagon_spark.graph import Graph
from propagon_spark.graph.pagerank import pagerank


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


def test_f2_analytic_ppr_cycle(spark):
    # pagerank.rs:337-360 — 3-cycle, seed {1}, d=0.5, sink=none → (4/7,2/7,1/7)
    g = Graph.from_edges(make_edges(spark, [("1", "2"), ("2", "3"), ("3", "1")]))
    res = pagerank(
        g, damping=0.5, sink="none", seeds={"1": 1.0}, tol=1e-12, max_iterations=200
    )
    s = scores_dict(res.scores)
    assert abs(s["1"] - 4 / 7) < 1e-9
    assert abs(s["2"] - 2 / 7) < 1e-9
    assert abs(s["3"] - 1 / 7) < 1e-9
    assert res.converged
    g.unpersist()


def test_f3_seeded_uniform_sink_chain(spark):
    # pagerank.rs:362-379 — chain 1→2, seed {1}, d=0.5, uniform → (2/3, 1/3)
    g = Graph.from_edges(make_edges(spark, [("1", "2")]))
    res = pagerank(
        g, damping=0.5, sink="uniform", seeds={"1": 1.0}, tol=1e-12,
        max_iterations=200,
    )
    s = scores_dict(res.scores)
    assert abs(s["1"] - 2 / 3) < 1e-9
    assert abs(s["2"] - 1 / 3) < 1e-9
    g.unpersist()


def test_f4_seed_weight_normalization(spark):
    # pagerank.rs:381-416 — 1⇄2, seeds {1:5, 2:5} → (0.5, 0.5)
    g = Graph.from_edges(make_edges(spark, [("1", "2"), ("2", "1")]))
    res = pagerank(
        g, damping=0.85, sink="none", seeds={"1": 5.0, "2": 5.0}, tol=1e-13,
        max_iterations=300,
    )
    s = scores_dict(res.scores)
    assert abs(s["1"] - 0.5) < 1e-12
    assert abs(s["2"] - 0.5) < 1e-12

    with pytest.raises(InvalidParameterError):
        pagerank(g, seeds={})
    with pytest.raises(InvalidParameterError):
        pagerank(g, seeds={"nope": 1.0})
    with pytest.raises(InvalidParameterError):
        pagerank(g, seeds={"1": 0.0})
    with pytest.raises(InvalidParameterError):
        pagerank(g, seeds={"1": float("nan")})
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


def test_salting_equivalence(g4):
    # hub salting must not change results: force every vertex to be a "hub"
    # salting lives in the join kernel only — force it on both runs
    base = scores_dict(
        pagerank(g4, iterations=10, sink="uniform", impl="join").scores
    )
    salted = scores_dict(
        pagerank(
            g4, iterations=10, sink="uniform", hub_threshold=1, hub_salts=4,
            impl="join",
        ).scores
    )
    for k in base:
        assert abs(base[k] - salted[k]) < 1e-12, k


def test_gather_repart_equivalence(g4, monkeypatch):
    # the repart gather plan (explicit hash exchange before the dst
    # aggregate — picked automatically for >=2M-vertex sparse graphs,
    # where the map-side partial agg table thrashes DRAM) must produce
    # identical ranks to the default map-side-agg plan
    monkeypatch.setenv("PROPAGON_JOIN_GATHER", "agg")
    base = scores_dict(
        pagerank(g4, iterations=10, sink="uniform", impl="join").scores
    )
    monkeypatch.setenv("PROPAGON_JOIN_GATHER", "repart")
    repart = scores_dict(
        pagerank(g4, iterations=10, sink="uniform", impl="join").scores
    )
    for k in base:
        assert abs(base[k] - repart[k]) < 1e-12, k
    # and the mode is recorded in the timings audit trail
    monkeypatch.setenv("PROPAGON_JOIN_GATHER", "auto")
    res = pagerank(g4, iterations=2, sink="uniform", impl="join")
    assert res.timings["gather_mode"] == "agg"  # 4 vertices < 2M

    monkeypatch.setenv("PROPAGON_JOIN_GATHER", "bogus")
    with pytest.raises(InvalidParameterError):
        pagerank(g4, iterations=1, sink="uniform", impl="join")


def test_portable_parquet_block_path(g4, monkeypatch):
    # the hdfs/s3 block-store branch (Parquet blocks, global-dst gather,
    # bucket == -1 rows) never triggers on a POSIX checkpoint dir — force
    # it by making every path look remote, and pin it to the local shard
    # path bit-for-bit
    from propagon_spark.plans import blocks

    local_res = pagerank(g4, iterations=10, sink="uniform", impl="csr")
    local = scores_dict(local_res.scores)
    monkeypatch.setattr(blocks, "_as_local_path", lambda p: None)
    portable_res = pagerank(g4, iterations=10, sink="uniform", impl="csr")
    portable = scores_dict(portable_res.scores)
    assert local == portable
    # the shard writer's per-shard row counts sum to the dedup'd edges,
    # the count the portable path takes with count()
    assert local_res.timings["edge_rows"] == len(F1_EDGES)
    assert portable_res.timings["edge_rows"] == len(F1_EDGES)
