"""Lineage truncation and the one round loop of the dataflow kernels.

Iterative DataFrame programs are the classic Spark failure mode
(SURVEY.md §4): without truncation the logical plan compounds per
iteration and Catalyst analysis/planning time explodes. Plain
``localCheckpoint`` is NOT sufficient here: the ``LogicalRDD`` it creates
carries origin statistics/constraints/ordering captured from the parent
plan, and when the checkpointed frame is referenced more than once per
step (scatter + delta joins) that carried state itself compounds —
empirically the ``localCheckpoint`` *call* doubles in cost per iteration
from ~iteration 18 on a 3-node graph (a one-off measurement on Spark
4.1.2; no test in the suite pins it).

:func:`truncate_lineage` fixes this by re-wrapping the checkpointed RDD
in a **fresh, bare** ``LogicalRDD`` via ``internalCreateDataFrame`` — no
origin stats, no constraints, no captured ordering — which keeps
per-iteration planning cost constant. Falls back to plain
``localCheckpoint`` where the internal API is unavailable (e.g. Spark
Connect).

:func:`fixpoint` is the round loop of every iterative kernel; no kernel
keeps a loop of its own. The state's type selects its backend:

- **dataflow**, a DataFrame (katz, leader_rank, hits, rank_centrality,
  random_walker, components, lpa and k-core above the edge-block bound,
  tally's ``filter_min_count``, harmonic, birank, join PageRank): a turn
  is ONE materializing job — the eager truncation — with the stop
  statistics observed (``Observation``) on it; the previous state's
  checkpoint blocks are released once its successor is materialized,
  the loop-invariant frames when the loop ends, and the final state is
  kept for the kernel's lazy result;
- **driver**, anything else, e.g. a numpy vector (CSR PageRank, k-core
  and LPA on the edge-block store): ``step`` returns the successor and
  its stats from driver numpy or one store round; nothing is
  materialized or released.

On both, ``row`` feeds ``progress`` and an optional ``save`` hook sees
each turn's state after its stop test (PageRank's durable checkpoints).

Released blocks live in executor block managers, so a plan that still
read one fails only across JVMs: run ``scripts/check_oracles.py`` under
``PROPAGON_SPARK_MASTER='local-cluster[2,2,2048]'`` to check.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation

from propagon_spark.progress import SILENT, Progress

_CHECKPOINT = "_checkpoint_rdd"  # instance attribute set by truncate_lineage


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` (eager localCheckpoint, one job) and return a
    frame whose plan is a bare leaf over the checkpointed blocks. O(1)
    plan size no matter how it is composed downstream."""
    ck = df.localCheckpoint(eager=True)
    try:
        spark = df.sparkSession
        jdf = ck._jdf  # noqa: SLF001 — classic-mode internal API
        jclean = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        out = DataFrame(jclean, spark)
        # the persisted RDD under localCheckpoint's LogicalRDD: release()
        setattr(out, _CHECKPOINT, jdf.queryExecution().logical().rdd())
        return out
    except Exception:  # Spark Connect or API drift — degraded but correct
        return ck


def release(df: DataFrame) -> None:
    """Free the checkpoint blocks under a frame :func:`truncate_lineage`
    returned; a no-op on any other frame and on a second call. Nothing
    may read ``df``, or a lazy frame over it, afterwards."""
    rdd = vars(df).pop(_CHECKPOINT, None)
    if rdd is not None:
        # what RDD.unpersist does, minus its warning that a locally
        # checkpointed RDD cannot be recomputed (it never is, here)
        rdd.context().unpersistRDD(rdd.id(), False)


def materialize(
    df: DataFrame, stats: dict[str, Column], columns: Sequence[str] = ()
) -> tuple[DataFrame, dict]:
    """Truncate ``df`` (projected to ``columns`` if given) and return it
    with ``stats`` (may be empty) observed on the one job that
    materializes it."""
    obs = Observation()
    if stats:
        df = df.observe(obs, *(c.alias(k) for k, c in stats.items()))
    out = truncate_lineage(df.select(*columns) if columns else df)
    return out, obs.get if stats else {}


def fixpoint(
    state,
    step: Callable,
    stats: dict[str, Column],
    stop: Callable[[int, dict, dict | None], bool],
    max_turns: int | None = None,
    invariants: Sequence[DataFrame] = (),
    initial_stats: dict | None = None,
    progress: Progress = SILENT,
    phase: str = "",
    row: Callable[[int, dict], dict] | None = None,
    save: Callable[[int, object], None] | None = None,
) -> tuple:
    """Run ``state ← step(state)`` until ``stop(turn, stats, last)`` holds
    or ``max_turns`` turns ran; return the final state and the turn count.

    A DataFrame ``state`` is a :func:`truncate_lineage` frame, owned by
    the loop from here on. ``step`` returns the successor's columns plus
    any that ``stats`` read; only the state's columns are materialized.
    ``invariants``: truncated frames every step reads. Any other
    ``state`` is a driver state: ``step`` returns ``(successor, stats
    dict)`` and ``stats`` is not read. ``last`` is the previous turn's
    stats (``initial_stats`` at turn 1); ``stop`` may raise the kernel's
    ``NumericError``. After each stop test, ``row(turn, stats)`` (if
    given) goes to ``progress``, and then ``save(turn, state)`` (if
    given) sees the turn's state.
    """
    dataflow = isinstance(state, DataFrame)
    columns = state.columns if dataflow else None
    turn, last = 0, initial_stats
    try:
        progress.start(phase, total=max_turns)
        while max_turns is None or turn < max_turns:
            turn += 1
            if dataflow:
                nxt, m = materialize(step(state), stats, columns)
                release(state)
                state = nxt
            else:
                state, m = step(state)
            done = stop(turn, m, last)
            if row is not None:
                progress.iteration(phase, row(turn, m))
            if save is not None:
                save(turn, state)
            if done:
                break
            last = m
        progress.finish()
    except BaseException:
        if dataflow:
            release(state)
        raise
    finally:
        for frame in invariants:
            release(frame)
    return state, turn
