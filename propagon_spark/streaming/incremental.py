"""Streaming / incremental surface.

The reference has no true streaming: its ``OnlineRanker`` notion is
per-period batch refits (``/root/reference/crates/propagon/src/traits.rs:127-148``),
and the PRD's FR-5 matrix maps graph algorithms to **warm-start batch
refit** only (``docs/PRD.md:233`` — "PageRank/BiRank: ❌ update, ✅
fit_warm"). The Spark equivalents:

- :func:`streaming_degree` — Structured Streaming weighted-degree
  aggregation over an edge stream (the one operator with true streaming
  semantics: an incremental ``groupBy().sum()``).
- :func:`pagerank_warm` — warm-start batch refit: re-fit PageRank on an
  updated edge table starting from a previous run's ranks instead of the
  teleport vector (contract: never worse than a cold fit,
  ``traits.rs:107-118``).
- :class:`StreamingPageRankRefit` — the end-to-end ``OnlineRanker``
  shape: ``readStream`` edge micro-batches → ``foreachBatch`` bronze
  append → per-trigger warm refit from the previous period's scores.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.graph.core import Graph, sorted_scores


def streaming_degree(
    edge_stream: DataFrame, direction: str = "in", watermark: str | None = None
) -> DataFrame:
    """Continuous weighted degree over a streaming edge frame
    ``(src, dst, weight[, ts])``. Returns a streaming aggregate suitable
    for ``writeStream.outputMode("update")``; pass ``watermark`` (e.g.
    "10 minutes") with a ``ts`` column to bound state for late data."""
    key = {"in": "dst", "out": "src"}[direction]
    s = edge_stream
    if watermark is not None:
        s = s.withWatermark("ts", watermark)
    return s.groupBy(F.col(key).alias("name")).agg(
        F.sum("weight").alias("score")
    )


def streaming_tally(comparison_stream: DataFrame) -> DataFrame:
    """Running per-entity win/loss tally over a comparison stream —
    the reference's ``tally`` (``pairwise.rs:195-208``) maintained
    incrementally with a custom stateful operator
    (``applyInPandasWithState``: Arrow-batched per-key state, no
    per-row Python).

    Input: a streaming frame ``(winner, loser, weight)``. Each
    micro-batch updates per-entity state ``(wins, losses, win_weight,
    loss_weight)`` and emits the updated totals for the entities the
    batch touched — use ``writeStream.outputMode("update")``. At any
    trigger boundary, the latest row per entity equals the batch
    :func:`propagon_spark.graph.tally.tally` over all rows seen so far
    (parity-tested in tests/test_streaming_tally.py).

    State is one small fixed-width row per entity, hash-partitioned by
    name across executors — the same layout Spark's own streaming
    aggregations use, so it scales with the state-store backend (RocksDB
    at production state sizes)."""
    import pandas as pd  # noqa: F811 — Arrow path only
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    contrib = comparison_stream.select(
        F.col("winner").alias("name"),
        F.lit(1).cast("long").alias("w"),
        F.lit(0).cast("long").alias("l"),
        F.col("weight").cast("double").alias("ww"),
        F.lit(0.0).alias("lw"),
    ).unionAll(
        comparison_stream.select(
            F.col("loser").alias("name"),
            F.lit(0).cast("long").alias("w"),
            F.lit(1).cast("long").alias("l"),
            F.lit(0.0).alias("ww"),
            F.col("weight").cast("double").alias("lw"),
        )
    )

    out_schema = (
        "name string, wins long, losses long, "
        "win_weight double, loss_weight double"
    )
    state_schema = "wins long, losses long, win_weight double, loss_weight double"

    def update(key, pdfs, state: GroupState):
        wins, losses, ww, lw = (
            state.get if state.exists else (0, 0, 0.0, 0.0)
        )
        for pdf in pdfs:
            wins += int(pdf["w"].sum())
            losses += int(pdf["l"].sum())
            ww += float(pdf["ww"].sum())
            lw += float(pdf["lw"].sum())
        state.update((wins, losses, ww, lw))
        yield pd.DataFrame(
            {
                "name": [key[0]],
                "wins": [wins],
                "losses": [losses],
                "win_weight": [ww],
                "loss_weight": [lw],
            }
        )

    return contrib.groupBy("name").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def pagerank_warm(
    g: Graph, prev_ranks: DataFrame, normalize: bool = True, **kwargs
):
    """Warm-start PageRank refit: continue power iteration from
    ``prev_ranks`` (id, rank) — e.g. the previous period's result with new
    vertices absent (they start at 0 after the left join, then receive
    teleport mass on the first step). Mass is re-normalized so the warm
    vector is a distribution. Without a ``checkpoint_dir`` the run
    checkpoints to a temporary directory, removed before the call
    returns."""
    from propagon_spark.graph.pagerank import pagerank
    from propagon_spark.plans.checkpoint import CheckpointManager

    ckdir = kwargs.pop("checkpoint_dir", None)
    run_id = kwargs.pop("run_id", uuid.uuid4().hex)
    made = ckdir is None
    if made:
        ckdir = tempfile.mkdtemp(prefix="propagon_warm_")
    try:
        warm = g.vocab.select("id").join(prev_ranks, "id", "left").select(
            "id", F.coalesce("rank", F.lit(0.0)).alias("rank")
        )
        if normalize:
            total = warm.agg(F.sum("rank")).first()[0] or 1.0
            warm = warm.select("id", (F.col("rank") / F.lit(float(total))).alias("rank"))

        # seed the checkpoint machinery with the warm state as "iteration 0"
        CheckpointManager(g.spark, ckdir, run_id).save(0, warm, [])
        return pagerank(
            g,
            checkpoint_dir=ckdir,
            run_id=run_id,
            resume=True,
            **kwargs,
        )
    finally:
        if made:
            shutil.rmtree(ckdir, ignore_errors=True)


class StreamingPageRankRefit:
    """Periodic PageRank over a live edge stream — the Spark-native shape
    of the reference's ``OnlineRanker`` (``traits.rs:127-148``: per-period
    refits, never incremental score updates; PRD FR-5 maps PageRank to
    warm-start batch refit only).

    Wire it as the ``foreachBatch`` sink of any streaming edge source::

        refit = StreamingPageRankRefit(spark, work_dir, sink="uniform")
        q = refit.attach(edge_stream)        # or .process_batch directly
        q.awaitTermination()
        refit.scores                         # (name, score) of last period

    Per micro-batch: (1) append the batch to a bronze parquet edge table
    (write-only, no shuffle); (2) rebuild the graph from the full table;
    (3) refit — cold on the first period, warm from the previous
    period's scores after (transfer is BY NAME through the new vocab:
    dense ids shift when new vertices intern, and PageRank's fixpoint is
    init-independent, so name transfer is both correct and maximally
    warm). Each period checkpoints under its own subdirectory, so a
    killed period resumes mid-convergence like any batch fit.

    At 100 TB the bronze append is the standard ingest pattern (parquet
    append partitions by arrival; the per-period ``Graph.from_edges``
    re-canonicalizes with the same one-shuffle dedup the batch path
    uses). The per-period metrics list carries (period, edge rows,
    iterations, converged) — the convergence log the north rule asks for.
    """

    def __init__(
        self,
        spark,
        work_dir: str,
        src: str = "src",
        dst: str = "dst",
        weight: str | None = "weight",
        **pagerank_kwargs,
    ):
        import os

        self.spark = spark
        self.work_dir = work_dir
        self.edges_dir = os.path.join(work_dir, "bronze_edges")
        self.scores_dir = os.path.join(work_dir, "scores")
        self.ck_root = os.path.join(work_dir, "pagerank_ck")
        self.src, self.dst, self.weight = src, dst, weight
        self.pagerank_kwargs = pagerank_kwargs
        self.scores: DataFrame | None = None  # (name, score), last period
        self.periods: list[dict] = []

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body — also callable directly for batch replay."""
        import os

        from propagon_spark.graph.pagerank import pagerank

        if batch_df.isEmpty():
            return
        batch_df.write.mode("append").parquet(self.edges_dir)

        edges = self.spark.read.parquet(self.edges_dir)
        w = self.weight if self.weight in edges.columns else None
        g = Graph.from_edges(edges, src=self.src, dst=self.dst, weight=w)
        kwargs = dict(self.pagerank_kwargs)
        kwargs.setdefault("checkpoint_dir", os.path.join(self.ck_root, f"p{batch_id}"))
        if self.scores is None:
            res = pagerank(g, **kwargs)
        else:
            prev = (
                g.vocab.join(self.scores, "name", "left")
                .select("id", F.coalesce("score", F.lit(0.0)).alias("rank"))
            )
            res = pagerank_warm(g, prev, **kwargs)

        # persist the period scores durably and re-read: the next period's
        # warm join must not drag this period's full lineage (or its
        # now-superseded checkpoints) behind it. A Parquet scan keeps no
        # row order across files, so the re-read is sorted again.
        out = os.path.join(self.scores_dir, f"p{batch_id}")
        res.scores.write.mode("overwrite").parquet(out)
        self.scores = sorted_scores(self.spark.read.parquet(out))
        self.periods.append(
            {
                "period": int(batch_id),
                "edge_rows": g.num_edge_rows,
                "iterations": res.iterations,
                "converged": res.converged,
            }
        )
        # this period's interned frames are dead weight once scores are
        # on disk — drop them before the next trigger's graph arrives
        g.unpersist()

    def attach(self, edge_stream: DataFrame, query_name: str = "pagerank_refit"):
        """Start the stream: returns the StreamingQuery. The streaming
        checkpoint (source offsets / batch ids) lives beside the bronze
        table so a restarted query resumes at the right micro-batch."""
        import os

        return (
            edge_stream.writeStream.foreachBatch(self.process_batch)
            .queryName(query_name)
            .option(
                "checkpointLocation", os.path.join(self.work_dir, "stream_ck")
            )
            .trigger(availableNow=True)
            .start()
        )
