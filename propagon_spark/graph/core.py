"""Graph: the engine's shared dataset abstraction.

Spark counterpart of ``GraphDataset``/``GraphView``
(``/root/reference/crates/propagon/src/dataset/graph.rs:11-17,106-115``):
an edge DataFrame plus a vocab DataFrame. Names are interned to dense long
ids once (``ids.build_vocab``); every algorithm runs on the id-typed frame
``(src: long, dst: long, weight: double)`` and joins names back only at
output time — the Spark version of "hash lookups become joins".

Scale notes:
- the id-typed edge frame is repartitioned by ``src`` and persisted, so
  every scatter join in an iterative kernel reuses one stable hash
  partitioning instead of re-shuffling per iteration;
- vocab joins are broadcast when small, shuffle-hash otherwise (Catalyst /
  AQE decide from stats);
- nothing here collects edges to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from propagon_spark.errors import EmptyDatasetError
from propagon_spark.ids import _build_vocab


@dataclass
class Graph:
    """An interned, id-typed edge list.

    Attributes:
        vocab: ``(name, id)`` — dense long ids, deterministic.
        edges: ``(src: long, dst: long, weight: double)`` — parallel edges
            preserved (canonicalization is per-algorithm, see canon.py).
        num_vertices: entity count (== vocab rows).
    """

    vocab: DataFrame
    edges: DataFrame
    num_vertices: int
    num_edge_rows: int
    _persisted: list[DataFrame] = field(default_factory=list)

    @property
    def spark(self) -> SparkSession:
        return self.edges.sparkSession

    @classmethod
    def from_edges(
        cls,
        edges: DataFrame,
        src: str = "src",
        dst: str = "dst",
        weight: str | None = None,
        num_partitions: int | None = None,
    ) -> "Graph":
        """Intern an arbitrary-typed edge frame into a Graph.

        ``src``/``dst`` may be any column type; ``weight`` defaults to 1.0
        when absent (reference reader default,
        ``propagon-cli/src/io.rs:117-122``). Vertices are all edge
        endpoints, matching the reference where only pushed names exist.
        """
        w = (
            F.col(weight).cast("double")
            if weight is not None
            else F.lit(1.0)
        )
        raw = edges.select(
            F.col(src).cast("string").alias("src_name"),
            F.col(dst).cast("string").alias("dst_name"),
            w.alias("weight"),
        )
        # The input plan executes TWICE below — once under the vocab's
        # name-distinct scan, once under the interning join. For a plain
        # table scan that's neutral, but callers routinely pass expensive
        # derivations (the co-commit pair aggregation: two shuffles over
        # the repo table), so materialize the normalized frame
        # once and release it as soon as the interned edges are counted.
        raw.persist(StorageLevel.MEMORY_AND_DISK_DESER)

        names = raw.select(F.col("src_name").alias("name")).unionAll(
            raw.select(F.col("dst_name").alias("name"))
        )
        try:
            vocab, n = _build_vocab(names)  # flat leaf (see ids.py)
            if n == 0:
                raise EmptyDatasetError("empty edge dataset")

            sv = vocab.select(
                F.col("name").alias("src_name"), F.col("id").alias("src")
            )
            dv = vocab.select(
                F.col("name").alias("dst_name"), F.col("id").alias("dst")
            )
            e = (
                raw.join(sv, "src_name")
                .join(dv, "dst_name")
                .select("src", "dst", "weight")
            )
            if num_partitions is None:
                num_partitions = int(
                    edges.sparkSession.conf.get("spark.sql.shuffle.partitions")
                )
            # One stable hash partitioning by src, reused by every scatter
            # join in the iterative kernels (kills one Exchange per
            # iteration).
            e = e.repartition(num_partitions, "src")
            # deserialized columnar cache — every kernel re-reads this
            # frame; the serialized level costs ~3.5x per scan at 2e8 rows
            # (measured)
            e.persist(StorageLevel.MEMORY_AND_DISK_DESER)
            m = e.count()
        finally:
            raw.unpersist(blocking=False)

        g = cls(
            vocab=vocab,
            edges=e,
            num_vertices=n,
            num_edge_rows=m,
        )
        g._persisted = [e]
        return g

    @classmethod
    def from_dense_ids(
        cls,
        edges: DataFrame,
        weight: str | None = None,
        num_vertices: int | None = None,
        num_partitions: int | None = None,
    ) -> "Graph":
        """Build from an edge frame whose ``src``/``dst`` are ALREADY dense
        long ids in ``0..n-1`` (e.g. a previously-interned frame
        materialized to Parquet). Skips the two interning joins and the
        name-distinct vocab build — the vocab is the identity mapping
        ``id → CAST(id AS STRING)``, generated lazily from ``range(n)``
        (zero scan cost; only kernels that emit names ever evaluate it).

        ``num_vertices`` should be the original interned vocab size; when
        omitted it is recovered as ``max(src, dst) + 1`` (correct for
        dense id spaces, one extra scan of the cached frame).
        """
        spark = edges.sparkSession
        w = (
            F.col(weight).cast("double")
            if weight is not None
            else F.lit(1.0)
        )
        e = edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            w.alias("weight"),
        )
        if num_partitions is None:
            num_partitions = int(
                spark.conf.get("spark.sql.shuffle.partitions")
            )
        # same stable src hash partitioning + deserialized cache as
        # from_edges — kernels rely on both
        e = e.repartition(num_partitions, "src")
        e.persist(StorageLevel.MEMORY_AND_DISK_DESER)
        m = e.count()
        if m == 0:
            raise EmptyDatasetError("empty edge dataset")
        if num_vertices is None:
            num_vertices = (
                e.select(
                    F.max(F.greatest(F.col("src"), F.col("dst"))).alias("mx")
                ).first()["mx"]
                + 1
            )
        vocab = spark.range(num_vertices).select(
            F.col("id").cast("string").alias("name"), F.col("id")
        )
        g = cls(
            vocab=vocab,
            edges=e,
            num_vertices=int(num_vertices),
            num_edge_rows=m,
        )
        g._persisted = [e]
        return g

    def with_names(self, df: DataFrame, id_col: str = "id") -> DataFrame:
        """Join names back onto an id-keyed result frame."""
        v = self.vocab.select(
            F.col("id").alias(id_col), F.col("name")
        )
        return df.join(v, id_col)

    def unpersist(self) -> None:
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        self._persisted = []


def sorted_scores(scored: DataFrame) -> DataFrame:
    """Reference output ordering: score desc, ties by name asc
    (``traits.rs:63-67``)."""
    return scored.orderBy(F.desc("score"), F.asc("name"))
