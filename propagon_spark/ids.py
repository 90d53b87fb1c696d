"""Vocab service: external string names → dense long ids.

Spark replacement for the reference's interner
(``/root/reference/crates/propagon/src/interner.rs:14-46``): an append-only
name↔u32 map with a dense id space. Here the vocab is a DataFrame
``(name: string, id: long)`` built once per graph and broadcast-joined
wherever the reference would do a hash lookup. No u32 cap — the reference
accepts a 2^32 entity ceiling (``docs/PRD.md:421``); at 10^12-file scale we
need longs.

Ids are dense ``0..n-1`` and **order-preserving**: ``id(a) < id(b) iff
name(a) < name(b)``. That makes every integer min/tie-break reduction in
the engine (connected-components representative, LPA tie-breaks)
equivalent to a *name*-ordered tie-break — a total order any independent
implementation (or SQL oracle) can reproduce, independent of
partitioning, parallelism, and hash seeds.

Rank assignment has two paths, split at the one driver-state bound
every driver-held structure in the engine shares
(``plans.blocks.DRIVER_STATE_MAX_VERTICES``, read at call time):

- **At or below the bound** the distinct names are collected once as an
  Arrow table, sorted on the driver with ``pyarrow.compute.sort_indices``
  and numbered ``0..n-1``; the vocab frame is created from that Arrow
  table, and the sorted name column is returned too, for the Graph to
  hold on the driver (its results below the bound are named and sorted
  there). Arrow compares strings as unsigned bytes of their UTF-8 encoding,
  which is exactly Spark's ``UTF8_BINARY`` string order (and Python's
  ``sorted(key=str.encode)``), so the ids equal the distributed path's.
  Arrow rather than a numpy object array: a 2M-name sort peaked at about
  half the driver RSS. The sort is :func:`driver_vocab`, which
  ``Graph.from_edges`` also calls when it interns a small edge list on
  the driver (``graph/core.py``), and so does the co-commit derivation's
  numpy twin (``sources/repo_table.py``).
- **Above it**, no global sort bottleneck: bucket names by
  **driver-fixed range split points** (computed once from a seeded
  sample and inlined as literals), count per bucket, broadcast the
  cumulative offsets, then ``offset[bucket] + row_number() within
  bucket``. The split points MUST be literals: ``repartitionByRange``
  re-samples boundaries per job, so the counts job and the ranking job
  can disagree — which silently yields duplicate/gapped ids (observed at
  sf0.1: PageRank mass exploded because the scatter join fanned out on
  duplicated ids). Ids are global name ranks, so the choice of split
  points never affects the result — only bucket balance.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from propagon_spark.plans import blocks
from propagon_spark.plans.iterate import truncate_lineage

#: target sample size per bucket when estimating split points
_SAMPLE_PER_BUCKET = 64


def build_vocab(names: DataFrame, num_buckets: int | None = None) -> DataFrame:
    """Build ``(name, id)`` with dense, deterministic, order-preserving
    long ids. ``names`` must have a single column ``name``."""
    return _build_vocab(names, num_buckets)[0]


#: the schema of a driver-ranked vocab frame (:func:`vocab_frame`)
VOCAB_SCHEMA = StructType([StructField("name", StringType()), StructField("id", LongType())])


def driver_vocab(names: pa.ChunkedArray | pa.Array) -> pa.ChunkedArray | pa.Array:
    """Rank distinct, non-null ``names`` on the driver: the names in id
    order. Arrow sorts strings by the unsigned bytes of their UTF-8
    encoding, which is Spark's ``UTF8_BINARY`` order, so the ids are the
    distributed path's. The one rank rule of every driver-side interner
    (:func:`_build_vocab`, ``Graph.from_edges`` below the edge bound and
    ``sources.repo_table.derive_pairs``)."""
    return names.take(pc.sort_indices(names))


def vocab_frame(spark, names: pa.ChunkedArray | pa.Array) -> DataFrame:
    """The ``(name, id)`` vocab frame of ``names`` in id order, created
    from Arrow with :data:`VOCAB_SCHEMA`."""
    table = pa.table({"name": names, "id": np.arange(len(names), dtype=np.int64)})
    return spark.createDataFrame(table, VOCAB_SCHEMA)


def _build_vocab(
    names: DataFrame, num_buckets: int | None = None
) -> tuple[DataFrame, int, pa.ChunkedArray | None]:
    """:func:`build_vocab` that also returns the vocab's row count and,
    at or below the driver-state bound, the names in id order."""
    spark = names.sparkSession
    if num_buckets is None:
        num_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))

    d = names.select("name").where(F.col("name").isNotNull()).distinct()
    d = d.persist(blocks.STORAGE)
    n = d.count()
    if n == 0:
        d.unpersist()
        return spark.createDataFrame([], "name string, id long"), 0, None
    if n <= blocks.DRIVER_STATE_MAX_VERTICES:
        col = d.toArrow().column("name")
        d.unpersist()
        col = driver_vocab(col)
        return vocab_frame(spark, col), n, col

    # driver-fixed split points from a seeded sample (deterministic for
    # the rest of this build; ids don't depend on the choice)
    num_buckets = max(1, min(num_buckets, n))
    if num_buckets > 1:
        frac = min(1.0, (_SAMPLE_PER_BUCKET * num_buckets) / n)
        sample = sorted(
            r["name"] for r in d.sample(fraction=frac, seed=42).collect()
        )
        if sample:
            bounds = sorted(
                {
                    sample[(i * len(sample)) // num_buckets]
                    for i in range(1, num_buckets)
                }
            )
        else:
            bounds = []
    else:
        bounds = []

    if bounds:
        bucket = functools.reduce(
            lambda acc, b: acc
            + F.when(F.col("name") >= F.lit(b), 1).otherwise(0),
            bounds,
            F.lit(0),
        )
    else:
        bucket = F.lit(0)
    d2 = d.withColumn("_b", bucket.cast("int"))

    counts = {
        r["_b"]: r["cnt"]
        for r in d2.groupBy("_b").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]

    offsets_df = spark.createDataFrame(
        [(b, off) for b, off in offsets.items()], "_b int, _off long"
    )
    w = Window.partitionBy("_b").orderBy("name")
    out = (
        d2.repartition(max(1, len(counts)), "_b")
        .withColumn("_rn", F.row_number().over(w) - F.lit(1))
        .join(F.broadcast(offsets_df), "_b")
        .select("name", (F.col("_off") + F.col("_rn")).cast("long").alias("id"))
    )
    # materialize as a flat cached leaf (it is joined everywhere), then
    # release the distinct-names cache
    out = truncate_lineage(out)
    d.unpersist()
    return out, n, None
