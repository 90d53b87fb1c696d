"""Random-walker ranking over pairwise comparisons.

Reference: ``/root/reference/crates/propagon/src/algos/random_walker.rs:34-140``.
Semantics:
- bias ``p`` strictly in (1/2, 1) — 1/2 carries no information, 1 makes
  undefeated entities absorbing (typed error otherwise);
- ``g_i`` = total game weight entity i played;
- per unordered pair {i, j}: transition
  ``i → j = (p·w_ji + (1−p)·w_ij) / g_i`` (walkers drift toward winners);
- implicit self-loop remainder, rows sum to exactly 1;
- power iteration from uniform; defaults iterations=1000, tol=1e-12.

Spark shape: the names are interned by ``Graph.from_edges`` (winner →
loser edges), one pair-aggregation over its edge frame builds the
transition frame, then the power iteration
``rank_centrality.stationary`` (the same walk update as rank-centrality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.errors import InvalidParameterError
from propagon_spark.graph.core import Graph
from propagon_spark.graph.rank_centrality import stationary
from propagon_spark.plans.iterate import truncate_lineage


def random_walker(
    pairwise: DataFrame,
    p: float = 0.75,
    iterations: int = 1000,
    tolerance: float = 1e-12,
) -> DataFrame:
    """Fit on a ``(winner, loser, weight[, period])`` frame; returns
    ``(name, score)`` (stationary distribution, sums to 1)."""
    if not (0.5 < p < 1.0):
        raise InvalidParameterError(
            f"random-walker bias p must lie strictly in (0.5, 1), got {p}"
        )
    g = Graph.from_edges(pairwise, "winner", "loser", "weight")
    rows = g.edges.select(
        F.col("src").alias("wi"), F.col("dst").alias("li"), F.col("weight").alias("x")
    )

    games = (
        rows.select(F.col("wi").alias("id"), "x")
        .unionAll(rows.select(F.col("li").alias("id"), "x"))
        .groupBy("id")
        .agg(F.sum("x").alias("g"))
    )

    upair = (
        rows.select(
            F.least("wi", "li").alias("lo"),
            F.greatest("wi", "li").alias("hi"),
            F.when(F.col("wi") < F.col("li"), F.col("x")).otherwise(0.0).alias("wlh"),
            F.when(F.col("wi") > F.col("li"), F.col("x")).otherwise(0.0).alias("whl"),
        )
        .groupBy("lo", "hi")
        .agg(F.sum("wlh").alias("wlh"), F.sum("whl").alias("whl"))
    )

    # i→j = (p·w_ji + (1−p)·w_ij)/g_i for both orientations of each pair
    gl = games.select(F.col("id").alias("lo"), F.col("g").alias("glo"))
    gh = games.select(F.col("id").alias("hi"), F.col("g").alias("ghi"))
    up = upair.join(gl, "lo").join(gh, "hi")
    trans = truncate_lineage(
        up.select(
            F.col("lo").alias("src"),
            F.col("hi").alias("dst"),
            (
                (F.lit(p) * F.col("whl") + F.lit(1.0 - p) * F.col("wlh"))
                / F.col("glo")
            ).alias("p"),
        ).unionAll(
            up.select(
                F.col("hi").alias("src"),
                F.col("lo").alias("dst"),
                (
                    (F.lit(p) * F.col("wlh") + F.lit(1.0 - p) * F.col("whl"))
                    / F.col("ghi")
                ).alias("p"),
            )
        )
    )
    return stationary(g, trans, iterations, tolerance, "random-walker")
