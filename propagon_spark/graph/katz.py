"""Katz centrality.

Reference: ``/root/reference/crates/propagon/src/algos/katz.rs:58-112``.
Weighted directed in-walks: ``x ← 1 + α·Aᵀx`` (no dedup, self-loops
kept); defaults α=0.1, iterations=100, tolerance=1e-12 (L1 change);
divergence guard: |x|₁ non-finite or > 1e12·n ⇒ typed error advising a
lower α; reported score is ``x − 1`` (walks only).

Spark shape: one scatter-gather join + ``groupBy(dst)`` per iteration,
run by ``plans.iterate.fixpoint``; |x|₁ and the L1 change are observed
on the job that materializes each iteration's state.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.errors import InvalidParameterError, NumericError
from propagon_spark.graph.core import Graph, sorted_scores
from propagon_spark.plans.iterate import fixpoint, truncate_lineage


def katz(
    g: Graph,
    alpha: float = 0.1,
    iterations: int = 100,
    tolerance: float = 1e-12,
) -> DataFrame:
    """Return ``(name, score)``, score = Σ_{k≥1} α^k (weighted walks in)."""
    if alpha <= 0.0:
        raise InvalidParameterError(f"katz alpha must be positive, got {alpha}")
    nparts = g.edges.rdd.getNumPartitions()
    edges = truncate_lineage(g.edges.repartition(nparts, "src"))
    n = g.num_vertices

    def step(x: DataFrame) -> DataFrame:
        gathered = (
            edges.join(x.select(F.col("id").alias("src"), "x"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("weight") * F.col("x")).alias("m"))
        )
        return (
            x.withColumnRenamed("x", "old")
            .join(gathered, "id", "left")
            .select(
                "id",
                "old",
                (
                    F.lit(1.0) + F.lit(alpha) * F.coalesce("m", F.lit(0.0))
                ).alias("x"),
            )
        )

    def settled(_turn: int, m: dict, _last) -> bool:
        mag = m["mag"]
        if mag is None or not math.isfinite(mag) or mag > 1e12 * n:
            raise NumericError(
                f"katz series diverged: alpha {alpha} is at or above 1/λ_max "
                "for this graph — lower alpha"
            )
        return m["change"] < tolerance

    x, _ = fixpoint(
        truncate_lineage(g.vocab.select("id", F.lit(1.0).alias("x"))),
        step,
        {
            "mag": F.sum(F.abs("x")),
            "change": F.sum(F.abs(F.col("x") - F.col("old"))),
        },
        settled,
        max_turns=iterations,
        invariants=[edges],
    )

    return sorted_scores(
        g.with_names(x.select("id", (F.col("x") - 1.0).alias("score"))).select(
            "name", "score"
        )
    )
