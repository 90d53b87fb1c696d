"""Connected-components fixtures F6 (components.rs:72-92,
clients/python/tests/test_functions.py:7-24)."""

import pytest

from conftest import make_edges

from propagon_spark.graph import Graph
from propagon_spark.graph.components import (
    connected_components,
    extract_components,
)


@pytest.fixture(scope="module")
def g3(spark):
    # a→b, b→c | x→y | p→q  (components.rs:72-92)
    g = Graph.from_edges(
        make_edges(
            spark,
            [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q")],
        )
    )
    yield g
    g.unpersist()


def test_membership(g3):
    cc = connected_components(g3)
    rows = cc.collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], set()).add(r["name"])
    comps = sorted(by_comp.values(), key=lambda s: (-len(s), sorted(s)))
    assert comps == [{"a", "b", "c"}, {"p", "q"}, {"x", "y"}]


def test_largest_first_ordering(g3):
    cc = connected_components(g3).collect()
    sizes = [r["component_size"] for r in cc]
    assert sizes == sorted(sizes, reverse=True)
    assert cc[0]["component_size"] == 3


def test_min_size_filter(g3):
    cc = connected_components(g3, min_size=3)
    names = {r["name"] for r in cc.collect()}
    assert names == {"a", "b", "c"}


def test_extract_components(g3):
    comps = extract_components(g3, min_size=1)
    assert len(comps) == 3
    members0, edges0 = comps[0]
    assert members0 == ["a", "b", "c"]
    # original directed edges preserved (components.rs:50-56)
    e = {(r["src"], r["dst"]) for r in edges0.collect()}
    assert e == {("a", "b"), ("b", "c")}


def test_two_cycles(spark):
    # python variant: two 3-cycles → 2 components of 3
    g = Graph.from_edges(
        make_edges(
            spark,
            [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")],
        )
    )
    cc = connected_components(g)
    by_comp = {}
    for r in cc.collect():
        by_comp.setdefault(r["component"], set()).add(r["name"])
    assert sorted(by_comp.values(), key=lambda s: sorted(s)) == [
        {"a", "b", "c"},
        {"x", "y", "z"},
    ]
    g.unpersist()


def test_long_chain(spark):
    # pointer-doubling shortcut: a 20-node path collapses in few rounds
    rows = [(str(i), str(i + 1)) for i in range(20)]
    g = Graph.from_edges(make_edges(spark, rows))
    cc = connected_components(g)
    comps = {r["component"] for r in cc.collect()}
    assert len(comps) == 1
    g.unpersist()


def _jobs_of(spark, fn):
    """Number of Spark jobs ``fn()`` launches, counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_extract_components_jobs_independent_of_component_count(spark):
    # member lists come from one collect, not one query per component;
    # the per-component edge frames stay lazy
    jobs = {}
    for k in (2, 8):
        g = Graph.from_edges(
            make_edges(spark, [(f"a{i}", f"b{i}") for i in range(k)])
        )
        comps = []
        jobs[k] = _jobs_of(spark, lambda: comps.extend(extract_components(g)))
        assert [m for m, _ in comps] == [[f"a{i}", f"b{i}"] for i in range(k)]
        g.unpersist()
    assert jobs[2] == jobs[8]
