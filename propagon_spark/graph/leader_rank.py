"""LeaderRank.

Reference: ``/root/reference/crates/propagon/src/algos/leader_rank.rs:67-138``.
Dedup'd unweighted out-neighbors plus a **ground node** linked
bidirectionally to every real node (so the chain is irreducible, no
sinks); power-iterate the uniform random walk on the (n+1)-node graph
from uniform 1/(n+1); defaults iterations=1000, tolerance=1e-12 (L1
change); then fold the ground's mass back evenly:
``S_i = π_i + π_ground/n`` (``leader_rank.rs:129-133``).

Spark shape: the ground node is one extra vertex id (n); the augmented
edge frame is built once and the sweep is the shared scatter-gather
kernel (one join + one groupBy per iteration), run by
``plans.iterate.fixpoint``: one job per iteration, the L1 change
observed on it.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.canon import dedup_edges
from propagon_spark.errors import NumericError
from propagon_spark.graph.core import Graph, sorted_scores
from propagon_spark.plans.iterate import fixpoint, truncate_lineage


def leader_rank(
    g: Graph, iterations: int = 1000, tolerance: float = 1e-12
) -> DataFrame:
    """Return ``(name, score)`` LeaderRank scores (sum to 1)."""
    spark = g.spark
    nparts = g.edges.rdd.getNumPartitions()
    n = g.num_vertices
    ground = n  # dense ids are 0..n-1, so n is free

    real_ids = g.vocab.select("id")
    aug = (
        dedup_edges(g.edges)
        .unionAll(real_ids.select(F.col("id").alias("src"), F.lit(ground).alias("dst")))
        .unionAll(real_ids.select(F.lit(ground).alias("src"), F.col("id").alias("dst")))
    )
    outdeg = aug.groupBy("src").agg(F.count("*").alias("outdeg"))
    scatter = (
        aug.join(outdeg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("inv"))
        .repartition(nparts, "src")
        .transform(truncate_lineage)
    )

    m = n + 1
    pi = (
        real_ids.unionAll(spark.range(ground, ground + 1).select(F.col("id")))
        .select("id", F.lit(1.0 / m).alias("pi"))
        .transform(truncate_lineage)
    )

    def step(pi: DataFrame) -> DataFrame:
        gathered = (
            scatter.join(pi.select(F.col("id").alias("src"), "pi"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("pi") * F.col("inv")).alias("m"))
        )
        return (
            pi.withColumnRenamed("pi", "old")
            .join(gathered, "id", "left")
            .select("id", "old", F.coalesce("m", F.lit(0.0)).alias("pi"))
        )

    def settled(turn: int, m: dict, _last) -> bool:
        change = m["change"]
        if change is None or not math.isfinite(change):
            raise NumericError(f"leader-rank diverged at iteration {turn}")
        return change < tolerance

    pi, _ = fixpoint(
        pi,
        step,
        {"change": F.sum(F.abs(F.col("pi") - F.col("old")))},
        settled,
        max_turns=iterations,
        invariants=[scatter],
    )

    g_mass = pi.where(F.col("id") == ground).first()["pi"]
    scores = pi.where(F.col("id") != ground).select(
        "id", (F.col("pi") + F.lit(g_mass / n)).alias("score")
    )
    return sorted_scores(g.with_names(scores).select("name", "score"))
