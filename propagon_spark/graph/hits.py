"""HITS (hubs & authorities).

Reference: ``/root/reference/crates/propagon/src/algos/hits.rs:111-181``.
Dedup'd unweighted directed edges; per iteration ``a ← Aᵀh`` then
``h ← A·a`` using the *refreshed* authorities; each vector L1-normalized;
init uniform 1/n; defaults iterations=100, tolerance=1e-12 on the summed
L1 change of both vectors; a collapsed normalization (total ≤ 0 / NaN) is
a typed error (``hits.rs:165-170``).

Spark shape: two scatter-gather join+aggs per iteration; the L1
normalizers ride along as broadcast 1-row aggregates; the rounds run in
``plans.iterate.fixpoint``, with the tolerance and collapse statistics
observed on the job that materializes each iteration's state.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.canon import dedup_edges
from propagon_spark.errors import NumericError
from propagon_spark.graph.core import Graph, sorted_scores
from propagon_spark.plans.iterate import fixpoint, truncate_lineage
from propagon_spark.progress import as_progress


@dataclass
class HitsResult:
    authorities: DataFrame  # (name, score)
    hubs: DataFrame  # (name, score)
    iterations: int


def hits(
    g: Graph,
    iterations: int = 100,
    tolerance: float = 1e-12,
    progress=None,
) -> HitsResult:
    nparts = g.edges.rdd.getNumPartitions()
    edges = truncate_lineage(dedup_edges(g.edges).repartition(nparts, "src"))
    n = g.num_vertices

    def step(state: DataFrame) -> DataFrame:
        # a_raw[dst] = Σ h[src]
        a_raw = (
            edges.join(
                state.select(F.col("id").alias("src"), "h"), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("h").alias("ar"))
        )
        a_tot = a_raw.agg(F.sum("ar").alias("_at"))
        a_frame = (
            state.select("id")
            .join(a_raw, "id", "left")
            .crossJoin(F.broadcast(a_tot))
            .select(
                "id",
                (F.coalesce("ar", F.lit(0.0)) / F.col("_at")).alias("na"),
            )
        )
        # h_raw[src] = Σ na[dst] (refreshed authorities)
        h_raw = (
            edges.join(a_frame.select(F.col("id").alias("dst"), "na"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("na").alias("hr"))
        )
        h_tot = h_raw.agg(F.sum("hr").alias("_ht"))
        return (
            state.join(a_frame, "id")
            .join(h_raw, "id", "left")
            .crossJoin(F.broadcast(h_tot))
            .select(
                "id",
                F.col("a").alias("old_a"),
                F.col("h").alias("old_h"),
                F.col("na").alias("a"),
                (F.coalesce("hr", F.lit(0.0)) / F.col("_ht")).alias("h"),
            )
        )

    def settled(_turn: int, m: dict, _last) -> bool:
        if (
            any(v is None or not math.isfinite(v) for v in m.values())
            or m["asum"] <= 0
            or m["hsum"] <= 0
        ):
            raise NumericError("hits iteration collapsed (no edges reachable?)")
        return m["change"] < tolerance

    state, it = fixpoint(
        truncate_lineage(g.vocab.select(
            "id", F.lit(1.0 / n).alias("a"), F.lit(1.0 / n).alias("h")
        )),
        step,
        {
            "change": F.sum(F.abs(F.col("old_a") - F.col("a")))
            + F.sum(F.abs(F.col("old_h") - F.col("h"))),
            "asum": F.sum("a"),
            "hsum": F.sum("h"),
        },
        settled,
        max_turns=iterations,
        invariants=[edges],
        progress=as_progress(progress),
        phase="hits",
        row=lambda turn, m: {"iteration": turn, "l1_delta": m["change"]},
    )

    named = g.with_names(state)
    return HitsResult(
        authorities=sorted_scores(named.select("name", F.col("a").alias("score"))),
        hubs=sorted_scores(named.select("name", F.col("h").alias("score"))),
        iterations=it,
    )
