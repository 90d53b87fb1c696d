"""k-core decomposition (coreness per vertex).

Reference: ``/root/reference/crates/propagon/src/algos/kcore.rs:40-100``
(Batagelj & Zaversnik peel). Undirected, unweighted, dedup'd, self-loops
dropped. Peel: starting at k=0, repeatedly remove every vertex of degree
≤ k (cascading) before moving to k+1; a vertex's coreness is the k it
fell at. Isolated vertices (only self-loops) get coreness 0.

Both executions read ``canon.undirected_adjacency``: symmetric, dedup'd,
hash-partitioned by ``src``, built with one exchange.

Iterated H-index (default): h₀ = degree, h_{n+1}[v] = H-index of
{h_n[u] : u ∈ N(v)}. ``h`` never increases and its fixpoint is exactly
the coreness (Lü et al. 2016), however the synchronous rounds are
executed. Two executions, selected by the vertex count against the edge-
block store's bound (``plans.blocks.DRIVER_STATE_MAX_VERTICES``, the one
CSR PageRank uses):

- **Edge-block store** (n ≤ the bound): the Graph's ``"undirected"``
  store (``Graph.store``). The Graph builds it on the first k-core or
  LPA call and keeps it until ``Graph.unpersist()``, so a later call
  starts at the rounds. ``h`` is a dense driver vector (int32 below 2³¹
  vertices); h₀ is the store's ``src_degree``, counted at the build. A
  round is a segmented H-index over ``(src, dst_local)`` columns
  (:func:`_hindex`), with no Catalyst planning, checkpoint or shuffle.
  Where it runs is the store's placement: for a Graph of at most
  ``plans.blocks.DRIVER_STORE_MAX_EDGE_ROWS`` edge rows the adjacency is
  held on the driver as one bucket and a round is a call in the driver
  process, with no Spark job; above that it is dst-bucketed worker
  shards and a round is ONE Python-worker RDD job (broadcast ``h``, one
  kernel call per bucket, the buckets' buffers assembled on the
  driver). The rounds run on ``plans.iterate.fixpoint``'s driver
  backend; a round that changes no ``h`` stops the loop. Isolated
  vertices keep degree 0. The result is named and sorted on the driver
  (``Graph.emit``): no vocab join, and ``collect()`` reads the sorted
  driver rows without the JVM.
- **Dataflow** (n > the bound, :func:`_kcore_hindex`): state ``h`` only
  for non-isolated vertices, h₀ = degree (a per-src aggregate of the
  cached adjacency). A round is ``cache ⋈ broadcast(h)`` on ``dst``,
  then the descending window and the H-index aggregate on ``src``, both
  on the cache's own partitioning: a round adds NO exchange, only the
  |V|-row state moves, but each is a planned query with a
  ``localCheckpoint``. The hint is given only while the state's
  estimated bytes are within the session's
  ``spark.sql.autoBroadcastJoinThreshold`` (``-1`` disables it); above
  it the same plan runs as a shuffle join. The rounds run in
  ``plans.iterate.fixpoint``: an unchanged ``sum(h)``, observed on the
  job that materializes the state, is exactly the fixpoint. One vocab
  left join emits names and coreness 0 for isolated vertices.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from propagon_spark.canon import undirected_adjacency
from propagon_spark.graph.core import Graph
from propagon_spark.plans import blocks
from propagon_spark.plans.iterate import fixpoint, materialize

_STATE_ROW_BYTES = 24  # Catalyst's row estimate for (src, h): header + 2 longs


def kcore(g: Graph) -> DataFrame:
    """Return ``(name, id, coreness)`` ordered (coreness desc, id asc).

    Iterated H-index (Lü, Chen, Ren, Zhang, Zhang & Zhou, *Nature
    Physics* 2016) — h₀ = degree, h_{n+1}[v] = H-index of
    {h_n[u] : u ∈ N(v)}; the fixpoint is exactly the coreness.
    Converges in tens of rounds on real graphs, each round
    one vertex-parallel pass over the edge set (on the edge-block store
    while the vertex state fits the driver, a dataflow join+window above
    that; see the module docstring) — versus a peel cascade's HUNDREDS
    of driver rounds (the sf0.1 full graph cascades ~450 rounds; measured
    86-125 s peel vs ~20 s hindex, same output). Bounded round count ×
    all-parallel rounds is the shape that survives a 1000-executor
    scale-up.
    """
    if g.num_vertices <= blocks.DRIVER_STATE_MAX_VERTICES:
        return _kcore_blocks(g)
    return _kcore_hindex(g)


def _broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, as Catalyst
    reads it (``-1``: broadcasting disabled)."""
    try:
        return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    except AttributeError:  # Spark Connect: no JVM session — no hint
        return -1


def _hindex_round(sym: DataFrame, h: DataFrame, broadcast: bool) -> DataFrame:
    """One iterated-H-index round over the src-partitioned adjacency:
    ``max(least(h_nbr, rank))`` over each src's descending neighbor
    values (max t s.t. ≥ t neighbors have h ≥ t)."""
    hn = h.select(F.col("src").alias("dst"), F.col("h").alias("_hn"))
    nbr = sym.join(F.broadcast(hn) if broadcast else hn, "dst")
    w = Window.partitionBy("src").orderBy(F.desc("_hn"))
    return (
        nbr.withColumn("_rk", F.row_number().over(w))
        .groupBy("src")
        .agg(F.max(F.least(F.col("_hn"), F.col("_rk"))).alias("h"))
    )


def _hindex(h: np.ndarray, bucket: list, nlocal: int) -> np.ndarray:
    """Store kernel: one iterated-H-index round for the bucket's
    vertices. The bucket's edges are sorted by ``(dst_local, -h[src])``;
    within a dst's segment the i-th value (1-based) is ``vals[i]``, and
    the H-index is ``max_i min(vals[i], i)``."""
    out = np.zeros(nlocal, h.dtype)
    src = np.concatenate([b[0] for b in bucket])
    dstl = np.concatenate([b[1] for b in bucket])
    if len(dstl) == 0:
        return out
    vals = h[src]
    order = np.lexsort((-vals, dstl))
    d = dstl[order]
    v = vals[order]
    starts = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
    lengths = np.diff(np.r_[starts, len(d)])
    rank = np.arange(1, len(d) + 1) - np.repeat(starts, lengths)
    out[d[starts]] = np.maximum.reduceat(np.minimum(v, rank), starts)
    return out


def _kcore_blocks(g: Graph) -> DataFrame:
    """Iterated-H-index coreness on the edge-block store (see the module
    docstring). ``h`` is non-increasing, so the first round that changes
    nothing is the fixpoint."""
    store = g.store("undirected")

    def step(h: np.ndarray) -> tuple[np.ndarray, dict]:
        nxt = store.gather(_hindex, h, store.dtype)
        return nxt, {"changed": int(np.count_nonzero(nxt != h))}

    # h ≤ degree < n: the store's id dtype (int32 below 2³¹) holds it
    h, _ = fixpoint(store.src_degree.astype(store.dtype), step, {},
                    lambda _turn, m, _last: m["changed"] == 0)
    return g.emit("coreness", h.astype(np.int64),
                  [("coreness", "descending"), ("id", "ascending")],
                  nullable=False)


def _kcore_hindex(g: Graph) -> DataFrame:
    """Iterated-H-index coreness (see module docstring for the shape).
    The sequence is monotonically non-increasing and lower-bounded by
    the coreness, so an unchanged ``sum(h)`` IS the fixpoint."""
    sym = undirected_adjacency(g.edges).persist(blocks.STORAGE)
    # h₀ = degree; this job also fills sym's cache
    h, m = materialize(
        sym.groupBy("src").agg(F.count("*").alias("h")),
        {"total": F.sum("h"), "rows": F.count("*")},
    )
    budget = _broadcast_threshold(g.spark)
    broadcast = 0 <= m["rows"] * _STATE_ROW_BYTES <= budget
    h, _ = fixpoint(
        h,
        lambda h: _hindex_round(sym, h, broadcast),
        {"total": F.sum("h")},
        lambda _turn, m, last: m["total"] == last["total"],
        initial_stats=m,
    )
    sym.unpersist()

    core = h.select(F.col("src").alias("id"), F.col("h").alias("coreness"))
    out = g.vocab.join(F.broadcast(core) if broadcast else core, "id", "left")
    return out.select(
        "name", "id", F.coalesce("coreness", F.lit(0)).cast("long").alias("coreness")
    ).orderBy(F.desc("coreness"), F.asc("id"))
