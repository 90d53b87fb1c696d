"""Driver-harness graph derivation over the TPC-H-ish test tables.

The driver's correctness gate (``__spark_entry__.py``) runs on
``/root/testdata/sf*/`` tables, which have no edge list — so we reuse the
engine's co-commit derivation (SURVEY.md §7.2) with ``l_orderkey`` as the
commit and ``l_partkey`` as the file: parts sharing an order are linked,
weight = number of shared orders. Names are zero-padded so lexicographic
name order == numeric part order (the vocab's order-preserving ids then
make engine tie-breaks reproducible in ANSI SQL oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from propagon_spark.sources.repo_table import derive_edges

#: orders touching more than this many parts are excluded (same fan-out
#: cap as the repo-table derivation)
ORDER_CAP = 20


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def part_name(col) -> F.Column:
    return F.lpad(F.col(col).cast("string"), 8, "0")


def cocommit_edges(
    spark: SparkSession,
    sf_dir: str,
    symmetric: bool = False,
    min_weight: int = 1,
) -> DataFrame:
    """Part co-occurrence edges ``(src, dst, weight)`` with src < dst
    (plus reversed rows when ``symmetric``); names ``t:<lpad(partkey)>``."""
    li = load(spark, sf_dir, "lineitem")
    repo_shaped = li.select(
        F.lit("t").alias("repo"),
        part_name("l_partkey").alias("path"),
        F.col("l_orderkey").cast("string").alias("commit"),
        F.lit("sql").alias("lang"),
        F.lit("").alias("content"),
    )
    e = derive_edges(repo_shaped, max_commit_files=ORDER_CAP, symmetric=symmetric)
    # derive_edges' own frame, which Graph.from_edges can derive on the
    # driver when the table is small; a reversed row keeps its weight
    return e if min_weight == 1 else e.where(F.col("weight") >= min_weight)


#: DuckDB CTE prologue matching :func:`cocommit_edges` row-for-row
ORACLE_EDGES_CTE = """
f AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
gs AS (SELECT grp FROM f GROUP BY grp HAVING count(*) <= {cap}),
fo AS (SELECT f.* FROM f JOIN gs USING (grp)),
pairs AS (
    SELECT concat('t:', lpad(CAST(a.item AS VARCHAR), 8, '0')) AS src,
           concat('t:', lpad(CAST(b.item AS VARCHAR), 8, '0')) AS dst,
           CAST(count(*) AS DOUBLE) AS weight
    FROM fo a JOIN fo b ON a.grp = b.grp AND a.item < b.item
    GROUP BY 1, 2
)
""".replace("{cap}", str(ORDER_CAP))
