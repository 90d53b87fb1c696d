"""Triangle-count fixture F7 (the reference's k-core fixture graph doubles
as the triangle oracle: kcore.rs:108-129)."""

import pytest

from conftest import make_edges

from propagon_spark.graph import Graph
from propagon_spark.graph.triangles import triangle_count, triangle_total


def clique(names):
    return [(a, b) for a in names for b in names if a < b]


@pytest.fixture(scope="module")
def gk(spark):
    # 4-clique p,q,r,s + triangle s,t,u + pendant u→v (kcore.rs:108-129)
    rows = clique(["p", "q", "r", "s"]) + [("s", "t"), ("t", "u"), ("s", "u"), ("u", "v")]
    g = Graph.from_edges(make_edges(spark, rows))
    yield g
    g.unpersist()


def test_total(gk):
    # 4 triangles in the 4-clique + (s,t,u) = 5
    assert triangle_total(gk) == 5


def test_per_vertex(gk):
    counts = {r["name"]: r["triangles"] for r in triangle_count(gk).collect()}
    assert counts == {"p": 3, "q": 3, "r": 3, "s": 4, "t": 1, "u": 1, "v": 0}


def test_4clique(spark):
    g = Graph.from_edges(make_edges(spark, clique(["a", "b", "c", "d"])))
    counts = {r["name"]: r["triangles"] for r in triangle_count(g).collect()}
    assert counts == {"a": 3, "b": 3, "c": 3, "d": 3}
    assert triangle_total(g) == 4
    g.unpersist()


def test_direction_and_dup_blind(spark):
    # parallel + reversed + self-loop edges don't create extra triangles
    rows = [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("c", "a"), ("a", "a")]
    g = Graph.from_edges(make_edges(spark, rows))
    assert triangle_total(g) == 1
    counts = {r["name"]: r["triangles"] for r in triangle_count(g).collect()}
    assert counts == {"a": 1, "b": 1, "c": 1}
    g.unpersist()


def test_triangle_free(spark):
    g = Graph.from_edges(make_edges(spark, [("a", "b"), ("b", "c"), ("c", "d")]))
    assert triangle_total(g) == 0
    g.unpersist()


def test_oriented_cache_owned_by_graph(spark, monkeypatch):
    # the oriented edge frame is built once per Graph and released by
    # Graph.unpersist(): no persisted RDD outlives the Graph
    from propagon_spark.graph import triangles

    builds = []
    oriented = triangles._oriented

    def counting(g):
        builds.append(1)
        return oriented(g)

    monkeypatch.setattr(triangles, "_oriented", counting)
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    g = Graph.from_edges(make_edges(spark, clique(["a", "b", "c", "d"])))
    assert [triangle_total(g) for _ in range(2)] == [4, 4]
    assert builds == [1]
    g.unpersist()
    assert persisted() - before == set()
