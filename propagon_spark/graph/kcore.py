"""k-core decomposition (coreness per vertex).

Reference: ``/root/reference/crates/propagon/src/algos/kcore.rs:40-100``
(Batagelj & Zaversnik peel). Undirected, unweighted, dedup'd, self-loops
dropped. Peel: starting at k=0, repeatedly remove every vertex of degree
≤ k (cascading) before moving to k+1; a vertex's coreness is the k it
fell at. Isolated vertices (only self-loops) get coreness 0.

Both methods read ``canon.undirected_adjacency``, cached: symmetric,
dedup'd, hash-partitioned by ``src``, built with one exchange.

Iterated H-index (default): state ``h`` only for non-isolated vertices,
h₀ = degree (a per-src aggregate of the cache). A round is
``cache ⋈ broadcast(h)`` on ``dst``, then the descending window and the
H-index aggregate on ``src``, both on the cache's own partitioning: a
round adds NO exchange, only the |V|-row state moves. The hint is given
only while the state's estimated bytes are within the session's
``spark.sql.autoBroadcastJoinThreshold`` (``-1`` disables it); above it
the same plan runs as a shuffle join. ``h`` never increases (Lü et al.
2016), so an unchanged ``sum(h)``, observed on the job that materializes
the state, is exactly the fixpoint. One vocab left join emits names and
coreness 0 for isolated vertices.

Peel (round-5 delta-degree rewrite): per inner round, only the
just-peeled frontier joins the edge frame — ``sym ⋈ peel(dst) →
groupBy(src)`` — and those neighbor counts are SUBTRACTED from the
survivors' running degrees; no per-round full-degree re-aggregation and
no per-round edge-set anti-join rewrite. Each edge (x, u) is subtracted
from x exactly once — at the round u peels — and contributions from
already-dead x are dropped by the survivor join, so the running degree
equals the recomputed one at every step. The persisted edge frame is
compacted GEOMETRICALLY: when half the vertices alive at the last build
have peeled, ``sym`` is semi-joined down to the survivors and
re-persisted (O(E) total rewrite work under halving, while every round's
aggregation stays frontier-proportional). Empty k levels are skipped by
jumping k to the minimum surviving degree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from propagon_spark.canon import undirected_adjacency
from propagon_spark.graph.core import Graph
from propagon_spark.plans.iterate import truncate_lineage

# deserialized columnar cache: the serialized level costs ~1.5x to build
# and ~3.5x per re-read at 2e8 rows (measured; see BENCH/BASELINE.md) -
# iterative kernels re-read their persisted frames every pass
_STORAGE = StorageLevel.MEMORY_AND_DISK_DESER
_STATE_ROW_BYTES = 24  # Catalyst's row estimate for (src, h): header + 2 longs


def kcore(g: Graph, method: str = "hindex") -> DataFrame:
    """Return ``(name, id, coreness)`` ordered (coreness desc, id asc).

    ``method="hindex"`` (default): iterated H-index (Lü, Chen, Ren,
    Zhang, Zhang & Zhou, *Nature Physics* 2016) — h₀ = degree,
    h_{n+1}[v] = H-index of {h_n[u] : u ∈ N(v)}; the fixpoint is exactly
    the coreness. Converges in tens of rounds on real graphs, each round
    one vertex-parallel join+window over the edge set — versus the
    peel cascade's HUNDREDS of driver rounds (the sf0.1 full graph
    cascades ~450 rounds; measured 86-125 s peel vs ~20 s hindex, same
    output). Bounded round count × all-parallel rounds is the shape that
    survives a 1000-executor scale-up.

    ``method="peel"``: the reference-shaped Batagelj-Zaversnik cascade
    (``kcore.rs:40-100``), delta-degree + geometric compaction — kept as
    the semantics mirror and equivalence oracle (see module docstring).
    """
    if method not in ("hindex", "peel"):
        raise ValueError(f"method must be hindex|peel, got {method!r}")
    if method == "hindex":
        return _kcore_hindex(g)
    return _kcore_peel(g)


def _broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, as Catalyst
    reads it (``-1``: broadcasting disabled)."""
    try:
        return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    except AttributeError:  # Spark Connect: no JVM session — no hint
        return -1


def _materialize_state(h: DataFrame) -> tuple[DataFrame, int | None, int]:
    """Truncate ``(src, h)`` and return it with its ``sum(h)`` and row
    count, both observed on the materializing job."""
    obs = Observation()
    out = truncate_lineage(
        h.observe(obs, F.sum("h").alias("total"), F.count("*").alias("rows"))
    )
    m = obs.get
    return out, m["total"], m["rows"]


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


def _kcore_hindex(g: Graph) -> DataFrame:
    """Iterated-H-index coreness (see module docstring for the shape).
    The sequence is monotonically non-increasing and lower-bounded by
    the coreness, so an unchanged ``sum(h)`` IS the fixpoint."""
    sym = undirected_adjacency(g.edges).persist(_STORAGE)
    # h₀ = degree; this job also fills sym's cache
    h, total, rows = _materialize_state(
        sym.groupBy("src").agg(F.count("*").alias("h"))
    )
    budget = _broadcast_threshold(g.spark)
    broadcast = 0 <= rows * _STATE_ROW_BYTES <= budget
    while True:
        h, nxt, _ = _materialize_state(_hindex_round(sym, h, broadcast))
        if nxt == total:
            break
        total = nxt
    sym.unpersist()

    core = h.select(F.col("src").alias("id"), F.col("h").alias("coreness"))
    out = g.vocab.join(F.broadcast(core) if broadcast else core, "id", "left")
    return out.select(
        "name", "id", F.coalesce("coreness", F.lit(0)).cast("long").alias("coreness")
    ).orderBy(F.desc("coreness"), F.asc("id"))


def _kcore_peel(g: Graph) -> DataFrame:
    """Reference-shaped peel cascade (see :func:`kcore`)."""
    # immutable for the whole peel: persisted blocks, read once per round
    # by the frontier join (never anti-joined down, never re-checkpointed)
    sym = undirected_adjacency(g.edges).persist(_STORAGE)

    # state: (id, deg) of still-alive vertices; (id, coreness) accumulator
    alive = (
        g.vocab.select("id")
        .join(
            sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg")),
            "id",
            "left",
        )
        .select("id", F.coalesce("deg", F.lit(0)).cast("long").alias("deg"))
        .transform(truncate_lineage)
    )
    assigned = g.spark.createDataFrame([], "id long, coreness long")

    k = 0
    remaining = alive.count()
    alive_at_build = remaining
    while remaining > 0:
        while True:
            peel = truncate_lineage(alive.where(F.col("deg") <= k).select("id"))
            n_peel = peel.count()
            if n_peel == 0:
                break
            assigned = truncate_lineage(assigned.unionAll(
                peel.select("id", F.lit(k).cast("long").alias("coreness"))
            ))
            remaining -= n_peel
            if remaining == 0:
                break
            # delta-degree: count each survivor's edges INTO the peeled
            # frontier (sym is symmetric, so dst-side matching sees every
            # incident edge) and subtract. Contributions land once per
            # edge; dead src rows fall out of the survivor left-join.
            delta = (
                sym.join(peel.withColumnRenamed("id", "dst"), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.count("*").alias("_removed"))
            )
            alive = truncate_lineage(
                alive.join(peel, "id", "left_anti")
                .join(delta, "id", "left")
                .select(
                    "id",
                    (
                        F.col("deg") - F.coalesce("_removed", F.lit(0))
                    ).cast("long").alias("deg"),
                )
            )
            # geometric compaction: once half the vertices alive at the
            # last build have peeled, shrink the probe side to survivors
            # (dead edges only waste scan time — degrees stay exact
            # either way, each edge still deltas exactly once)
            if remaining <= alive_at_build // 2:
                ids = alive.select("id")
                nxt = (
                    sym.join(ids.withColumnRenamed("id", "src"), "src",
                             "left_semi")
                    .join(ids.withColumnRenamed("id", "dst"), "dst",
                          "left_semi")
                    .persist(_STORAGE)
                )
                nxt.count()
                sym.unpersist()
                sym = nxt
                alive_at_build = remaining
        if remaining == 0:
            break
        # jump the ladder to the next populated level (min surviving
        # degree is > k here, else the inner loop would have peeled it)
        k = alive.agg(F.min("deg")).first()[0]

    sym.unpersist()
    out = g.with_names(assigned).select("name", "id", "coreness")
    return out.orderBy(F.desc("coreness"), F.asc("id"))
