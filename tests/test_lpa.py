"""LPA fixture F14 (new operator; SURVEY.md §2.4 semantics)."""

import pytest
from pyspark.sql import DataFrame

from conftest import make_edges

from propagon_spark.graph import Graph
from propagon_spark.graph.lpa import label_propagation


def clique(names):
    return [(a, b) for a in names for b in names if a < b]


def test_two_cliques_bridge(spark):
    # two 4-cliques joined by one bridge edge → two communities
    rows = clique(["a1", "a2", "a3", "a4"]) + clique(["b1", "b2", "b3", "b4"])
    rows.append(("a1", "b1"))
    g = Graph.from_edges(make_edges(spark, rows))
    res = label_propagation(g, max_rounds=20)
    labels = {r["name"]: r["label"] for r in res.collect()}
    a_labels = {labels[n] for n in ["a1", "a2", "a3", "a4"]}
    b_labels = {labels[n] for n in ["b1", "b2", "b3", "b4"]}
    assert len(a_labels) == 1
    assert len(b_labels) == 1
    assert a_labels != b_labels
    g.unpersist()


def test_deterministic_across_parallelism(spark):
    rows = clique(["a1", "a2", "a3"]) + clique(["b1", "b2", "b3"]) + [("a1", "b1")]
    g1 = Graph.from_edges(make_edges(spark, rows), num_partitions=2)
    g2 = Graph.from_edges(make_edges(spark, rows), num_partitions=7)
    l1 = {(r["name"], r["label"]) for r in label_propagation(g1).collect()}
    l2 = {(r["name"], r["label"]) for r in label_propagation(g2).collect()}
    assert l1 == l2
    g1.unpersist()
    g2.unpersist()


def test_isolated_self_loop_keeps_own_label(spark):
    g = Graph.from_edges(make_edges(spark, [("z", "z"), ("a", "b")]))
    res = label_propagation(g)
    labels = {r["name"]: r["label"] for r in res.collect()}
    ids = {r["name"]: r["id"] for r in res.collect()}
    assert labels["z"] == ids["z"]
    g.unpersist()


def test_driver_lpa_leaves_the_vocab_unbuilt(spark):
    # LPA on a driver-built Graph names its labels from the driver-held
    # names without creating the vocab frame, and its schema is the one
    # it has once the vocab frame exists; a dense-id Graph's labels keep
    # its vocab's non-null ids
    rows = clique(["a1", "a2", "a3"]) + [("a3", "b1")]
    g, built = (Graph.from_edges(make_edges(spark, rows)) for _ in range(2))
    dense = Graph.from_dense_ids(spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long"))
    try:
        lazy = label_propagation(g)
        assert not isinstance(g.__dict__["_vocab"], DataFrame)
        built.vocab  # noqa: B018  (creates the vocab frame)
        assert lazy.schema == label_propagation(built).schema
        assert lazy.collect() == label_propagation(built).collect()
        assert not label_propagation(dense).schema["label"].nullable
    finally:
        for x in (g, built, dense):
            x.unpersist()
