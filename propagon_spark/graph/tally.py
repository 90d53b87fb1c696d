"""Pairwise-dataset operations (the graph-adjacent subset).

Reference: ``/root/reference/crates/propagon/src/dataset/pairwise.rs`` —
``tally`` (195-208), ``filter_min_count`` (213-256), ``as_graph``
(258-268). A pairwise frame has columns
``(winner, loser, weight, period)`` (FIXTURES.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.plans.iterate import fixpoint, materialize


def as_graph(pairwise: DataFrame) -> DataFrame:
    """Reinterpret comparisons as endorsement edges ``loser → winner``
    (``pairwise.rs:258-268``); weight carried through."""
    return pairwise.select(
        F.col("loser").alias("src"),
        F.col("winner").alias("dst"),
        F.col("weight"),
    )


def tally(pairwise: DataFrame) -> DataFrame:
    """Per-entity win/loss counts and weights (``pairwise.rs:195-208``).

    Returns ``(name, wins, losses, win_weight, loss_weight)`` — every
    entity that appears on either side, zeros where absent — ordered
    (wins desc, name asc).
    """
    w = pairwise.groupBy(F.col("winner").alias("name")).agg(
        F.count("*").alias("wins"), F.sum("weight").alias("win_weight")
    )
    l = pairwise.groupBy(F.col("loser").alias("name")).agg(
        F.count("*").alias("losses"), F.sum("weight").alias("loss_weight")
    )
    return (
        w.join(l, "name", "full_outer")
        .select(
            "name",
            F.coalesce("wins", F.lit(0)).cast("long").alias("wins"),
            F.coalesce("losses", F.lit(0)).cast("long").alias("losses"),
            F.coalesce("win_weight", F.lit(0.0)).alias("win_weight"),
            F.coalesce("loss_weight", F.lit(0.0)).alias("loss_weight"),
        )
        .orderBy(F.desc("wins"), F.asc("name"))
    )


def filter_min_count(pairwise: DataFrame, min_count: int) -> DataFrame:
    """Iteratively drop rows whose endpoints appear in fewer than
    ``min_count`` rows — cascading until a fixpoint
    (``pairwise.rs:213-256``). Each round is one ``fixpoint`` turn; its
    row count, observed on the materializing job, stops the loop once it
    no longer falls."""
    if min_count <= 1:
        return pairwise
    count = {"rows": F.count("*")}
    cur, m = materialize(pairwise, count)

    def step(cur: DataFrame) -> DataFrame:
        appearances = (
            cur.select(F.col("winner").alias("name"))
            .unionAll(cur.select(F.col("loser").alias("name")))
            .groupBy("name")
            .agg(F.count("*").alias("cnt"))
        )
        keep = appearances.where(F.col("cnt") >= min_count).select("name")
        return cur.join(
            keep.withColumnRenamed("name", "winner"), "winner", "left_semi"
        ).join(keep.withColumnRenamed("name", "loser"), "loser", "left_semi")

    cur, _ = fixpoint(
        cur, step, count,
        lambda _turn, m, last: m["rows"] in (last["rows"], 0),
        initial_stats=m,
    )
    return cur.select("winner", "loser", "weight", "period")
