"""Rank Centrality (Negahban-Oh-Shah) over pairwise comparisons.

Reference: ``/root/reference/crates/propagon/src/algos/rank_centrality.rs:52-140``.
Semantics:
- aggregate wins per ordered pair; for each unordered pair {a,b} with
  total weight t > 0, transition ``a → b = w_ba / (t · d_max)`` (walk
  toward the winner proportional to its win fraction);
- d_max = max number of distinct opponents over all entities;
- power-iterate with implicit self-loops (``π_i·(1−Σ leaving)``),
  defaults iterations=200, tolerance=1e-10 (L1 change);
- stationary distribution sums to 1.

Spark shape: the names are interned by ``Graph.from_edges`` (winner →
loser edges), one pair-aggregation pass over its edge frame builds the
transition edge frame, then the scatter-gather power iteration
:func:`stationary` (shared with random_walker), run by
``plans.iterate.fixpoint``: one job per iteration, the L1 change
observed on it.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.errors import NumericError
from propagon_spark.graph.core import Graph, sorted_scores
from propagon_spark.plans.iterate import fixpoint, release, truncate_lineage


def stationary(
    g: Graph,
    trans: DataFrame,
    iterations: int,
    tolerance: float,
    kernel: str,
) -> DataFrame:
    """Power-iterate ``pi ← pi·stay + Σ p·pi`` from uniform over the
    truncated transition frame ``trans`` (src, dst, p) on ``g``'s
    vertices, with the implicit self-loop ``stay = 1 − Σ leaving``, until
    the L1 change is below ``tolerance``; return ``(name, score)``.
    Releases ``trans`` and unpersists ``g``: the loop reads none of its
    edges."""
    vocab, n = g.vocab, g.num_vertices
    stay = truncate_lineage(
        vocab.select("id")
        .join(
            trans.groupBy(F.col("src").alias("id")).agg(
                F.sum("p").alias("leave")
            ),
            "id",
            "left",
        )
        .select("id", (1.0 - F.coalesce("leave", F.lit(0.0))).alias("stay"))
    )
    g.unpersist()

    def step(pi: DataFrame) -> DataFrame:
        gathered = (
            trans.join(pi.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("p") * F.col("pi")).alias("m"))
        )
        return (
            stay.join(pi, "id")
            .join(gathered, "id", "left")
            .select(
                "id",
                F.col("pi").alias("old"),
                (
                    F.col("pi") * F.col("stay")
                    + F.coalesce("m", F.lit(0.0))
                ).alias("pi"),
            )
        )

    def settled(turn: int, m: dict, _last) -> bool:
        change = m["change"]
        if change is None or not math.isfinite(change):
            raise NumericError(f"{kernel} diverged at iteration {turn}")
        return change < tolerance

    pi, _ = fixpoint(
        truncate_lineage(vocab.select("id", F.lit(1.0 / n).alias("pi"))),
        step,
        {"change": F.sum(F.abs(F.col("pi") - F.col("old")))},
        settled,
        max_turns=iterations,
        invariants=[trans, stay],
    )
    return sorted_scores(
        vocab.join(pi, "id").select("name", F.col("pi").alias("score"))
    )


def rank_centrality(
    pairwise: DataFrame, iterations: int = 200, tolerance: float = 1e-10
) -> DataFrame:
    """Fit on a ``(winner, loser, weight[, period])`` frame; returns
    ``(name, score)`` (scores sum to 1)."""
    g = Graph.from_edges(pairwise, "winner", "loser", "weight")
    wins = g.edges.groupBy(F.col("src").alias("a"), F.col("dst").alias("b")).agg(
        F.sum("weight").alias("wab")
    )

    # unordered pair stats: (lo, hi, w_lo_beats_hi, w_hi_beats_lo)
    upair = (
        wins.select(
            F.least("a", "b").alias("lo"),
            F.greatest("a", "b").alias("hi"),
            F.when(F.col("a") < F.col("b"), F.col("wab")).otherwise(0.0).alias("wlh"),
            F.when(F.col("a") > F.col("b"), F.col("wab")).otherwise(0.0).alias("whl"),
        )
        .groupBy("lo", "hi")
        .agg(F.sum("wlh").alias("wlh"), F.sum("whl").alias("whl"))
        .withColumn("t", F.col("wlh") + F.col("whl"))
    )
    upair = truncate_lineage(upair)

    deg = (
        upair.select(F.col("lo").alias("id"))
        .unionAll(upair.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    d_max = float(deg.agg(F.max("deg")).first()[0] or 1)

    # transitions: lo→hi with p = whl/(t·d_max); hi→lo with p = wlh/(t·d_max)
    pos = upair.where(F.col("t") > 0)
    trans = truncate_lineage(
        pos.select(
            F.col("lo").alias("src"),
            F.col("hi").alias("dst"),
            (F.col("whl") / (F.col("t") * F.lit(d_max))).alias("p"),
        ).unionAll(
            pos.select(
                F.col("hi").alias("src"),
                F.col("lo").alias("dst"),
                (F.col("wlh") / (F.col("t") * F.lit(d_max))).alias("p"),
            )
        )
    )
    release(upair)  # trans and d_max hold all the loop reads of it
    return stationary(g, trans, iterations, tolerance, "rank-centrality")
