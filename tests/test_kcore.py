"""k-core fixture F7 (kcore.rs:108-154)."""

import pytest

from conftest import make_edges

from propagon_spark.graph import Graph
from propagon_spark.graph.kcore import _broadcast_threshold, kcore


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


def test_hindex_equals_peel_random_graph(spark):
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


def test_hindex_equals_peel_without_broadcast(spark):
    # broadcasting disabled: the H-index rounds run the same plan as a
    # shuffle join; a self-loop-only vertex must still get coreness 0
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
