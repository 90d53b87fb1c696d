"""Synchronous label propagation (community detection).

North-rule required; absent from the v2 reference (LPA was dropped as
non-goal N1, ``/root/reference/docs/PRD.md:42``), so standard published
semantics (Raghavan et al. 2007) with deterministic tie-breaks
(SURVEY.md §2.4):

- undirected, dedup'd, self-loop-free reading of the edge list;
- init ``label[v] = v``;
- each round every vertex simultaneously adopts the most frequent label
  among its neighbors, ties broken by **min label** (integer ordinal
  reduction → identical assignments at any parallelism);
- stop when no label changes or after ``max_rounds``.

Two executions, split at the edge-block store's bound
(``plans.blocks.DRIVER_STATE_MAX_VERTICES``), as in k-core:

- **Edge-block store** (n ≤ the bound): the Graph's ``"undirected"``
  store, shared with k-core and kept until ``Graph.unpersist()``. A
  round is a segmented mode (:func:`_mode`) over the driver's ``label``
  vector: a call in the driver process for a Graph of at most
  ``plans.blocks.DRIVER_STORE_MAX_EDGE_ROWS`` edge rows (the store is
  held on the driver, no Spark job), ONE Python-worker job over the
  store's worker shards above that. Vertices whose ``src_degree`` is 0
  keep their label. The rounds run on ``plans.iterate.fixpoint``'s
  driver backend; a round that changes no label stops the loop. The
  result is sorted on the driver and collected from there
  (``Graph.emit``).
- **Dataflow** (n > the bound): per round one scatter join (labels onto
  symmetric edges), ``groupBy(dst, label).count()`` for neighborhood
  histograms, then a ``max_by``-style struct-max to pick (count desc,
  label asc) — two shuffles per round, all integer reductions. The
  rounds run in ``plans.iterate.fixpoint``; the changed-label count is
  observed on the job that materializes each round's labels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.canon import undirected_adjacency
from propagon_spark.graph.core import Graph
from propagon_spark.plans import blocks
from propagon_spark.plans.iterate import fixpoint, truncate_lineage


def label_propagation(g: Graph, max_rounds: int = 20) -> DataFrame:
    """Return ``(name, id, label)`` community assignments.

    ``label`` is the vertex id of the community's representative (min-id
    tie-breaking makes it deterministic). Isolated-after-canonicalization
    vertices (only self-loops) keep their own label. Ordered (label, id).
    """
    if g.num_vertices <= blocks.DRIVER_STATE_MAX_VERTICES:
        return _lpa_blocks(g, max_rounds)
    nparts = g.edges.rdd.getNumPartitions()
    sym = undirected_adjacency(g.edges).persist(blocks.STORAGE)
    sym.count()

    def step(labels: DataFrame) -> DataFrame:
        # neighborhood label histogram: for each dst, count labels of its
        # neighbors (src side carries the labels)
        hist = (
            sym.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), F.col("label"))
            .agg(F.count("*").alias("cnt"))
        )
        # pick (cnt desc, label asc): max over struct (cnt, -label) — a
        # pure integer reduction, deterministic at any parallelism
        best = hist.groupBy("id").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("b")
        ).select("id", (-F.col("b.nl")).alias("nlabel"))
        return (
            labels.withColumnRenamed("label", "old")
            .join(best, "id", "left")
            .select("id", "old", F.coalesce("nlabel", F.col("old")).alias("label"))
            .repartition(nparts, "id")
        )

    labels, _ = fixpoint(
        g.vocab.select("id", F.col("id").alias("label"))
        .repartition(nparts, "id")
        .transform(truncate_lineage),
        step,
        {"changed": F.sum(F.when(F.col("label") != F.col("old"), 1).otherwise(0))},
        lambda _turn, m, _last: m["changed"] == 0,
        max_turns=max_rounds,
    )
    sym.unpersist()
    out = g.with_names(labels).select("name", "id", "label")
    return out.orderBy("label", "id")


def _mode(label: np.ndarray, bucket: list, nlocal: int) -> np.ndarray:
    """Store kernel: each of the bucket's vertices adopts its neighbors'
    most frequent label, ties to the min label. The bucket's edges are
    sorted by ``(dst_local, label[src])``; each run of equal pairs is one
    label's count, and per dst the longest run, first in label order,
    wins. Vertices without edges read 0 (the driver keeps their label)."""
    out = np.zeros(nlocal, label.dtype)
    src = np.concatenate([b[0] for b in bucket])
    dstl = np.concatenate([b[1] for b in bucket])
    if len(dstl) == 0:
        return out
    vals = label[src]
    order = np.lexsort((vals, dstl))
    d, v = dstl[order], vals[order]
    starts = np.flatnonzero(np.r_[True, (d[1:] != d[:-1]) | (v[1:] != v[:-1])])
    runs = np.diff(np.r_[starts, len(d)])
    d, v = d[starts], v[starts]
    best = np.lexsort((v, -runs, d))
    first = best[np.r_[True, d[best][1:] != d[best][:-1]]]
    out[d[first]] = v[first]
    return out


def _lpa_blocks(g: Graph, max_rounds: int) -> DataFrame:
    """Label propagation on the edge-block store (module docstring)."""
    store = g.store("undirected")
    isolated = store.src_degree == 0

    def step(label: np.ndarray) -> tuple[np.ndarray, dict]:
        nxt = store.gather(_mode, label, store.dtype)
        nxt[isolated] = label[isolated]
        return nxt, {"changed": int(np.count_nonzero(nxt != label))}

    label, _ = fixpoint(np.arange(g.num_vertices, dtype=store.dtype), step, {},
                        lambda _turn, m, _last: m["changed"] == 0,
                        max_turns=max_rounds)
    return g.emit("label", label.astype(np.int64),
                  [("label", "ascending"), ("id", "ascending")], nullable=None)
