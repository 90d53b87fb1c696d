"""Harmonic centrality + Rank Centrality fixtures
(harmonic semantics per harmonic.rs:46-117; rank-centrality fixtures from
rank_centrality.rs:140-200)."""

import pytest

from conftest import make_edges, scores_dict

from propagon_spark.graph import Graph
from propagon_spark.graph.harmonic import harmonic
from propagon_spark.graph.rank_centrality import rank_centrality


def test_harmonic_in_path(spark):
    # a→b→c: in-harmonic c = 1 + 1/2, b = 1, a = 0
    g = Graph.from_edges(make_edges(spark, [("a", "b"), ("b", "c")]))
    s = scores_dict(harmonic(g, "in"))
    assert s == {"c": 1.5, "b": 1.0, "a": 0.0}
    out = scores_dict(harmonic(g, "out"))
    assert out == {"a": 1.5, "b": 1.0, "c": 0.0}
    tot = scores_dict(harmonic(g, "total"))
    assert tot == {"a": 1.5, "b": 2.0, "c": 1.5}
    g.unpersist()


def test_harmonic_sampled_scales(spark):
    # star center: every spoke reaches the center in 1 hop
    rows = [(f"s{i}", "c") for i in range(8)]
    g = Graph.from_edges(make_edges(spark, rows))
    exact = scores_dict(harmonic(g, "in"))
    assert exact["c"] == 8.0
    est = scores_dict(harmonic(g, "in", sample=4, seed=2014))
    # estimator is scaled by n/count; the center's estimate counts the
    # sampled spokes (≤ 4 of them, possibly including 'c' itself)
    assert est["c"] > 0
    assert est["c"] == pytest.approx(est["c"], rel=0)  # deterministic
    again = scores_dict(harmonic(g, "in", sample=4, seed=2014))
    assert est == again
    g.unpersist()


def test_harmonic_explicit_sources_scaled(spark):
    # path a-b-c-d (total direction), sources {a, d}: contributions
    #   b: 1/1 (from a) + 1/2 (from d) = 1.5   c: symmetric = 1.5
    #   a: 1/3 (from d)                         d: 1/3 (from a)
    # estimator scale = n/k = 4/2 = 2 (harmonic.rs:167-204)
    g = Graph.from_edges(make_edges(spark, [("a", "b"), ("b", "c"), ("c", "d")]))
    s = scores_dict(harmonic(g, "total", sources=["a", "d"]))
    assert s["b"] == pytest.approx(3.0)
    assert s["c"] == pytest.approx(3.0)
    assert s["a"] == pytest.approx(2.0 / 3.0)
    assert s["d"] == pytest.approx(2.0 / 3.0)
    # unknown source name is a typed error, not a silent drop
    from propagon_spark.errors import InvalidParameterError

    with pytest.raises(InvalidParameterError):
        harmonic(g, "total", sources=["a", "nope"])
    g.unpersist()


@pytest.mark.parametrize("cost", ["unit", "weight"])
def test_harmonic_zero_depth_scores_zero(spark, cost):
    # no round runs: every vertex, sources included, scores 0.0
    g = Graph.from_edges(
        make_edges(spark, [("a", "b", 2.0), ("b", "c", 1.0)], weights=True),
        weight="weight",
    )
    zeros = {"a": 0.0, "b": 0.0, "c": 0.0}
    assert scores_dict(harmonic(g, "in", max_depth=0, cost=cost)) == zeros
    assert scores_dict(
        harmonic(g, "total", max_depth=0, cost=cost, sources=["a"])
    ) == zeros
    g.unpersist()


def pairwise(spark, rows):
    return spark.createDataFrame(
        [(w, l, float(x), 0) for w, l, x in rows],
        "winner string, loser string, weight double, period long",
    )


def test_rank_centrality_bt_order(spark):
    # rank_centrality.rs:146-163 — BT strengths a=4,b=2,c=1
    d = pairwise(
        spark,
        [("a", "b", 4), ("b", "a", 2), ("a", "c", 4), ("c", "a", 1),
         ("b", "c", 2), ("c", "b", 1)],
    )
    s = rank_centrality(d)
    rows = s.collect()
    assert [r["name"] for r in rows] == ["a", "b", "c"]
    assert abs(sum(r["score"] for r in rows) - 1.0) < 1e-9


def test_rank_centrality_balance(spark):
    # rank_centrality.rs:166-... — a beats b 3:1 → π_a/π_b = 3
    d = pairwise(spark, [("a", "b", 3), ("b", "a", 1)])
    s = scores_dict(rank_centrality(d))
    assert s["a"] / s["b"] == pytest.approx(3.0, abs=1e-6)


def test_rank_centrality_duplicate_pair_non_ascii(spark):
    # a repeated (winner, loser) pair adds its wins; non-ASCII names intern
    # in UTF-8 byte order. Pinned rows, 20 steps with no early stop.
    d = pairwise(
        spark,
        [("Zoë", "ärger", 2), ("ärger", "Zoë", 1), ("Zoë", "ärger", 1),
         ("東京", "Zoë", 3), ("ärger", "東京", 1), ("bob", "東京", 2),
         ("東京", "bob", 1)],
    )
    rows = rank_centrality(d, iterations=20, tolerance=0.0).collect()
    assert [r["name"] for r in rows] == ["bob", "ärger", "Zoë", "東京"]
    assert [r["score"] for r in rows] == pytest.approx(
        [0.34864051402606633, 0.29625118164570735, 0.17831647848608476,
         0.17679182584214068],
        abs=1e-12,
    )
