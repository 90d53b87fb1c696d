"""Per-algorithm edge canonicalization (SURVEY.md §2.6 matrix).

Each reference algorithm preprocesses the shared edge list differently:

==============  =====  =======  ==========  ==========
algorithm       dedup  weights  self-loops  direction
==============  =====  =======  ==========  ==========
pagerank/ppr    yes    no       kept        directed    (pagerank.rs:6-7,133-141)
leader_rank     yes    no       kept        directed    (leader_rank.rs:74-87)
hits            yes    no       kept        directed    (hits.rs:118-126)
k-core          yes    no       dropped     undirected  (kcore.rs:47-58)
components      yes    no       dropped     undirected  (components.rs:8-11)
degree          no     yes      kept        per flag    (degree.rs:20-37)
katz            no     yes      kept        directed    (katz.rs:72-76)
lpa/triangles   yes    no       dropped     undirected  (new; SURVEY §2.4-2.5)
==============  =====  =======  ==========  ==========

The frame helpers operate on id-typed edge frames ``(src: long, dst: long
[, weight: double])`` and stay in pure Catalyst expressions. The three
forms a Graph keeps as edge-block stores also have a numpy twin over
driver-held id columns (``*_pairs``), which returns the same set of
``(src, dst)`` pairs as its frame helper; a Graph at or below the edge
bound cuts its stores with them (``Graph.store``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_edges(edges: DataFrame) -> DataFrame:
    """Drop parallel edges and weights: distinct (src, dst).

    Mirrors the sort+dedup each unweighted algorithm performs
    (``pagerank.rs:133-141``).
    """
    return edges.select("src", "dst").distinct()


def drop_self_loops(edges: DataFrame) -> DataFrame:
    """Remove ``src == dst`` rows (k-core / LPA / triangles only,
    ``kcore.rs:50-54``)."""
    return edges.where(F.col("src") != F.col("dst"))


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected reading: each edge contributes both directions.

    Matches ``undirected_adjacency`` (``graph.rs:155-162``) which inserts
    every edge into both endpoint lists. Any other column (a weight)
    rides along with its edge.
    """
    swap = {"src": F.col("dst").alias("src"), "dst": F.col("src").alias("dst")}
    return edges.unionAll(edges.select(*(swap.get(c, c) for c in edges.columns)))


def canonical_undirected(edges: DataFrame) -> DataFrame:
    """Dedup'd, self-loop-free, one row per undirected edge with src < dst.

    The canonical form for k-core / triangles / LPA (``kcore.rs:47-58``:
    swap-to-sorted, dedup, drop loops).
    """
    e = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    )
    return e.where(F.col("src") != F.col("dst")).distinct()


def undirected_adjacency(edges: DataFrame) -> DataFrame:
    """Symmetric, self-loop-free, dedup'd ``(src, dst)`` adjacency,
    hash-partitioned by ``src`` like ``edges`` (components / k-core /
    LPA; a self-loop never changes a component).

    The same set as ``symmetrize(canonical_undirected(edges))`` from ONE
    exchange instead of two: the src clustering of the repartition already
    satisfies the (src, dst) distinct, and every per-src aggregate or
    window downstream reuses it.
    """
    nparts = edges.rdd.getNumPartitions()
    return (
        symmetrize(drop_self_loops(edges).select("src", "dst"))
        .repartition(nparts, "src")
        .distinct()
    )


def reverse_sinks(edges: DataFrame) -> DataFrame:
    """PageRank's ``sink="reverse"`` topology rewrite of dedup'd edges
    (``pagerank.rs:147-164``): each sink s (no out-edges) gets an edge
    s→u to every distinct in-neighbor u. Every vertex is an edge
    endpoint, so each sink has ≥1 in-neighbor and none remains."""
    outs = edges.select("src").distinct()
    sink_in = (
        edges.join(outs.withColumnRenamed("src", "dst"), "dst", "left_anti")
        .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .distinct()
    )
    return edges.unionAll(sink_in)


def unique_pairs(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """:func:`dedup_edges` of id columns: the distinct ``(src, dst)``
    pairs, sorted by ``(src, dst)``."""
    order = np.lexsort((dst, src))
    s, d = src[order], dst[order]
    keep = np.ones(len(s), bool)
    keep[1:] = (s[1:] != s[:-1]) | (d[1:] != d[:-1])
    return s[keep], d[keep]


def reverse_sinks_pairs(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """:func:`reverse_sinks` of :func:`dedup_edges`, on id columns."""
    s, d = unique_pairs(src, dst)
    sink_in = ~np.isin(d, s)
    return np.concatenate([s, d[sink_in]]), np.concatenate([d, s[sink_in]])


def undirected_pairs(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """:func:`undirected_adjacency` of id columns."""
    loop = src == dst
    s, d = src[~loop], dst[~loop]
    return unique_pairs(np.concatenate([s, d]), np.concatenate([d, s]))
