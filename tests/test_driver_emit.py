"""The driver emit of the edge-block kernels (k-core, LPA, CSR PageRank):
each result is named and sorted on the driver and returned as one
``LocalRelation``. It must equal, row for row and in order, the vocab
join + ``orderBy`` plan it replaces, with the same schema (nullability
included), and collecting it must run no Spark job."""

import random
from unittest import mock

import pytest
from pyspark.sql import functions as F

from conftest import job_ids_of

from propagon_spark.graph import Graph
from propagon_spark.graph.core import sorted_scores
from propagon_spark.graph.kcore import kcore
from propagon_spark.graph.lpa import label_propagation
from propagon_spark.graph.pagerank import pagerank
from propagon_spark.plans import blocks


def _named_graph(spark):
    # two symmetric stars (leaves tie in every score) plus seeded random
    # edges; names are not in id order of insertion
    rng = random.Random(11)
    rows = []
    for hub in ("h1", "h2"):
        for i in range(5):
            rows += [(hub, f"{hub}_l{i}"), (f"{hub}_l{i}", hub)]
    names = [f"r{i}" for i in range(25)]
    rows += [(rng.choice(names), rng.choice(names)) for _ in range(60)]
    return Graph.from_edges(spark.createDataFrame(rows, "src string, dst string"))


def _dense_graph(spark):
    # 12 dense ids: a symmetric star 0 ↔ 1..11 plus the edge 2 → 3. The
    # leaves tie, and names order them "1" < "10" < "11" < "2", not by id
    rows = [(0, i) for i in range(1, 12)] + [(i, 0) for i in range(1, 12)]
    rows.append((2, 3))
    return Graph.from_dense_ids(spark.createDataFrame(rows, "src long, dst long"))


@pytest.fixture(params=["from_edges", "from_dense_ids"])
def graph(request, spark):
    g = (_named_graph if request.param == "from_edges" else _dense_graph)(spark)
    yield g
    g.unpersist()


def _same(spark, got, want):
    assert got.schema == want.schema
    rows = []
    assert len(job_ids_of(spark, lambda: rows.extend(got.collect()))) == 0
    assert rows == want.collect()
    return rows


def test_kcore_emit_equals_vocab_join_plan(spark, graph):
    got = kcore(graph)
    core = spark.createDataFrame(
        [(r["id"], r["coreness"]) for r in got.collect()],
        "id long, coreness long not null",
    )
    want = graph.vocab.join(core, "id").select("name", "id", "coreness").orderBy(
        F.desc("coreness"), F.asc("id")
    )
    rows = _same(spark, got, want)
    assert len({r["coreness"] for r in rows}) < len(rows)  # ties exist
    # the dataflow path (above the bound) emits through the same plan
    with mock.patch.object(blocks, "DRIVER_STATE_MAX_VERTICES", 0):
        _same(spark, got, kcore(graph))


def test_lpa_emit_equals_dataflow_plan(spark, graph):
    # the dataflow rounds are the store rounds' reference: same labels,
    # same (label, id) order, same schema
    got = label_propagation(graph, max_rounds=5)
    with mock.patch.object(blocks, "DRIVER_STATE_MAX_VERTICES", 0):
        want = label_propagation(graph, max_rounds=5)
    rows = _same(spark, got, want)
    assert len({r["label"] for r in rows}) < len(rows)


def test_csr_pagerank_emit_equals_vocab_join_plan(spark, graph):
    res = pagerank(graph, iterations=8, sink="uniform", impl="csr")
    want = sorted_scores(
        graph.with_names(res.ranks.select("id", F.col("rank").alias("score")))
        .select("name", "score")
    )
    rows = _same(spark, res.scores, want)
    scores = [r["score"] for r in rows]
    assert len(set(scores)) < len(scores)  # the leaves tie exactly
    if graph.num_vertices == 12:
        leaf = next(r["score"] for r in rows if r["name"] == "1")
        tied = [r["name"] for r in rows if r["score"] == leaf]
        assert tied == ["1", "10", "11", "2", "4", "5", "6", "7", "8", "9"]


def test_csr_pagerank_above_the_bound_emits_through_the_vocab(spark):
    # a CSR fit forced above the driver-state bound holds no names on
    # the driver: seeds resolve with a lookup join and the scores are a
    # vocab join + orderBy, equal to the driver emit (same store, so the
    # same rank vector)
    kw = dict(iterations=8, sink="uniform", impl="csr", seeds={"h1": 1.0, "r3": 2.0})
    g = _named_graph(spark)
    want = pagerank(g, **kw).scores
    g.names = None
    with mock.patch.object(blocks, "DRIVER_STATE_MAX_VERTICES", 0):
        got = pagerank(g, **kw).scores
        assert g.names is None
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    g.unpersist()
