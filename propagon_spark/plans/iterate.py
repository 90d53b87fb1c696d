"""Lineage truncation for driver-controlled iteration loops.

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
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` (localCheckpoint) and return a frame whose plan
    is a bare leaf over the checkpointed blocks. O(1) plan size no matter
    how it is composed downstream."""
    ck = df.localCheckpoint(eager=eager)
    try:
        spark = df.sparkSession
        jdf = ck._jdf  # noqa: SLF001 — classic-mode internal API
        jclean = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(jclean, spark)
    except Exception:  # Spark Connect or API drift — degraded but correct
        return ck


def truncate_lineage_lazy(df: DataFrame) -> DataFrame:
    """Chainable lazy variant (``df.transform(truncate_lineage_lazy)``):
    the checkpoint materializes on the first downstream action."""
    return truncate_lineage(df, eager=False)
