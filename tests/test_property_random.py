"""Randomized cross-checks against independent pure-Python references.

The fixture tests pin the reference's exact numbers on its own small
graphs; these tests complement them with seeded random multigraphs
(parallel edges, self-loops, natural sinks) checked against
from-the-spec reference implementations written here in plain
Python/numpy — an implementation with NOTHING in common with the
engine's DataFrame plans. Catches cross-kernel drift (csr vs join) and
canonicalization mistakes that hand-picked fixtures can miss.

Semantics cross-checked (citations are the authoritative spec):
- PageRank sink policies none/uniform/all/reverse + seeded teleport
  (``pagerank.rs:31-59,106-235``), both kernels, allclose 1e-6;
- triangle counting (SURVEY §2.5: undirected, dedup'd, self-loop-free);
- connected components membership partition (``components.rs:12-66``);
- k-core coreness (Batagelj–Zaversnik peel, ``kcore.rs:40-100``).
"""

from __future__ import annotations

import itertools
import random

import pytest

from tests.conftest import make_edges, peel_coreness


def _rand_multigraph(seed: int, n: int = 10, m: int = 28):
    """Seeded random directed multigraph: parallel duplicates likely,
    self-loops allowed, sinks arise naturally."""
    rng = random.Random(seed)
    names = [f"v{i}" for i in range(n)]
    rows = []
    for _ in range(m):
        a = rng.choice(names)
        b = rng.choice(names)
        rows.append((a, b))
    return rows


def _np_pagerank(rows, damping, iters, sink, seeds=None):
    """From-the-spec reference: dict-of-floats power iteration."""
    dedup = sorted(set(rows))
    verts = sorted({x for e in dedup for x in e})
    if sink == "reverse":
        outs = {s for s, _ in dedup}
        extra = sorted(
            {(d, s) for s, d in dedup if d not in outs}
        )  # sink's dedup'd in-neighbors, reversed (pagerank.rs:147-164)
        dedup = sorted(set(dedup) | set(extra))
    outdeg: dict[str, int] = {}
    for s, _ in dedup:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(verts)
    if seeds is None:
        v = {u: 1.0 / n for u in verts}
    else:
        tot = sum(seeds.values())
        v = {u: seeds.get(u, 0.0) / tot for u in verts}
    p = dict(v)
    sinks = [u for u in verts if u not in outdeg]
    for _ in range(iters):
        gathered = {u: 0.0 for u in verts}
        for s, d in dedup:
            gathered[d] += p[s] / outdeg[s]
        smass = sum(p[u] for u in sinks)
        new = {}
        for u in verts:
            if sink == "uniform":
                term = smass * v[u]
            elif sink == "all":
                term = (smass - (p[u] if u in sinks else 0.0)) / (n - 1)
            else:  # none / reverse (reverse has no sinks left)
                term = 0.0
            new[u] = damping * (gathered[u] + term) + (1.0 - damping) * v[u]
        p = new
    return p


def _und_simple(rows):
    """Undirected dedup'd self-loop-free edge set as frozensets."""
    return {frozenset((a, b)) for a, b in rows if a != b}


@pytest.mark.parametrize("seed", [1, 2])
@pytest.mark.parametrize("impl", ["csr", "join"])
def test_pagerank_random_graphs_match_reference(spark, seed, impl):
    from propagon_spark.graph.core import Graph
    from propagon_spark.graph.pagerank import pagerank

    rows = _rand_multigraph(seed)
    g = Graph.from_edges(make_edges(spark, rows))
    for sink in ("none", "uniform", "all", "reverse"):
        res = pagerank(g, damping=0.85, iterations=10, sink=sink, impl=impl)
        got = {r["name"]: r["score"] for r in res.scores.collect()}
        want = _np_pagerank(rows, 0.85, 10, sink)
        assert got.keys() == want.keys()
        for u in want:
            assert got[u] == pytest.approx(want[u], abs=1e-6), (sink, u)


@pytest.mark.parametrize("impl", ["csr", "join"])
def test_ppr_random_graph_matches_reference(spark, impl):
    from propagon_spark.graph.core import Graph
    from propagon_spark.graph.pagerank import pagerank

    rows = _rand_multigraph(3)
    seeds = {"v0": 2.0, "v3": 1.0}
    g = Graph.from_edges(make_edges(spark, rows))
    res = pagerank(
        g, damping=0.85, iterations=10, sink="uniform", seeds=seeds, impl=impl
    )
    got = {r["name"]: r["score"] for r in res.scores.collect()}
    want = _np_pagerank(rows, 0.85, 10, "uniform", seeds=seeds)
    for u in want:
        assert got[u] == pytest.approx(want[u], abs=1e-6)


@pytest.mark.parametrize("seed", [4, 5, 6])
def test_triangles_random_graphs_match_bruteforce(spark, seed):
    from propagon_spark.graph.core import Graph
    from propagon_spark.graph.triangles import triangle_total

    rows = _rand_multigraph(seed, n=9, m=36)
    und = _und_simple(rows)
    verts = sorted({x for e in und for x in e})
    want = sum(
        1
        for x, y, z in itertools.combinations(verts, 3)
        if {frozenset((x, y)), frozenset((y, z)), frozenset((x, z))} <= und
    )
    g = Graph.from_edges(make_edges(spark, rows))
    assert triangle_total(g) == want


@pytest.mark.parametrize("seed", [7, 8, 9])
def test_components_random_graphs_match_unionfind(spark, seed):
    from propagon_spark.graph.components import connected_components
    from propagon_spark.graph.core import Graph

    # sparse so multiple components actually occur
    rows = _rand_multigraph(seed, n=14, m=10)
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        parent[find(a)] = find(b)
    want = {}
    for x in {v for e in rows for v in e}:
        want.setdefault(find(x), set()).add(x)
    g = Graph.from_edges(make_edges(spark, rows))
    cc = connected_components(g).collect()
    got = {}
    for r in cc:
        got.setdefault(r["component"], set()).add(r["name"])
    assert {frozenset(s) for s in got.values()} == {
        frozenset(s) for s in want.values()
    }


@pytest.mark.parametrize("seed", [10, 11, 12])
def test_kcore_random_graphs_match_peel(spark, seed):
    from propagon_spark.graph.core import Graph
    from propagon_spark.graph.kcore import kcore

    rows = _rand_multigraph(seed, n=10, m=30)
    want = peel_coreness(rows)
    g = Graph.from_edges(make_edges(spark, rows))
    got = {r["name"]: r["coreness"] for r in kcore(g).collect()}
    assert got == want
