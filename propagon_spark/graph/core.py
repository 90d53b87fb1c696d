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
- edges reach the driver only as a small Graph's stores: at or below
  ``plans.blocks.DRIVER_STORE_MAX_EDGE_ROWS`` edge rows a store is one
  Arrow collect of its canonical form, held in driver memory.

Below the driver-state bound (``plans.blocks.DRIVER_STATE_MAX_VERTICES``)
a Graph also holds its ``names`` on the driver, one Arrow column in id
order (a dense-id Graph casts its ids on first use): k-core, LPA and CSR
PageRank sort and name their results there (:meth:`Graph.emit`), so each
is a ``LocalRelation`` whose collect runs no Spark job. Above the bound
the names stay in the vocab frame and a forced CSR PageRank emits
through a vocab join + ``orderBy``. A Graph owns one edge-block store
per canonical form a kernel asks for (:meth:`Graph.store`:
``"undirected"`` for k-core and LPA, ``"out"`` / ``"out_reverse"`` for
CSR PageRank), built on first use, at most once per Graph, on the
driver or in worker shards (see above). Stores and
derived frames (:meth:`Graph.cached`) live until :meth:`Graph.unpersist`;
a Graph that is garbage-collected first still deletes its stores' files.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable
from contextlib import suppress
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from propagon_spark.canon import dedup_edges, reverse_sinks, undirected_adjacency
from propagon_spark.errors import EmptyDatasetError
from propagon_spark.ids import _build_vocab
from propagon_spark.plans import blocks

#: the canonical forms :meth:`Graph.store` builds, from the id-typed edges
_FORMS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "undirected": undirected_adjacency,
    "out": dedup_edges,
    "out_reverse": lambda e: reverse_sinks(dedup_edges(e)),
}


@dataclass
class Graph:
    """An interned, id-typed edge list.

    Attributes:
        vocab: ``(name, id)`` — dense long ids, deterministic.
        edges: ``(src: long, dst: long, weight: double)`` — parallel edges
            preserved (canonicalization is per-algorithm, see canon.py).
        num_vertices: entity count (== vocab rows).
        names: the vocab's names in id order, held on the driver at or
            below the driver-state bound (see :meth:`driver_names`);
            None above it.
    """

    vocab: DataFrame
    edges: DataFrame
    num_vertices: int
    num_edge_rows: int
    names: pa.ChunkedArray | pa.Array | None = None
    #: what :meth:`unpersist` releases: the edge frame, the stores and
    #: the derived frames, by key
    _owned: dict[str, object] = field(default_factory=dict)
    #: ids are their own names (:meth:`from_dense_ids`)
    _dense: bool = False

    def __post_init__(self):
        # stores are files, which no JVM cleanup deletes: a Graph nobody
        # unpersists releases them when it is garbage-collected
        weakref.finalize(self, _release, self._owned, blocks.EdgeBlocks)

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
            vocab, n, names = _build_vocab(names)  # flat leaf (see ids.py)
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

        return cls(vocab, e, n, m, names, {"edges": e})

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
        n = int(num_vertices)
        vocab = spark.range(n).select(
            F.col("id").cast("string").alias("name"), F.col("id")
        )
        return cls(vocab, e, n, m, None, {"edges": e}, _dense=True)

    def with_names(self, df: DataFrame, id_col: str = "id") -> DataFrame:
        """Join names back onto an id-keyed result frame."""
        v = self.vocab.select(
            F.col("id").alias(id_col), F.col("name")
        )
        return df.join(v, id_col)

    def _own(self, key: str, build: Callable[[], object]):
        if key not in self._owned:
            self._owned[key] = build()
        return self._owned[key]

    def store(self, form: str) -> blocks.EdgeBlocks:
        """The edge-block store of canonical ``form`` (``"undirected"``,
        ``"out"`` or ``"out_reverse"``), built on first use and kept
        until :meth:`unpersist`."""
        return self._own(form, lambda: blocks.build(
            _FORMS[form](self.edges), self.num_vertices, self.num_edge_rows))

    def cached(self, key: str, frame: Callable[[], DataFrame]) -> DataFrame:
        """``frame()`` persisted and materialized on first use, and kept
        under ``key`` until :meth:`unpersist`."""

        def build():
            df = frame().persist(StorageLevel.MEMORY_AND_DISK_DESER)
            df.count()
            return df

        return self._own(key, build)

    def driver_names(self) -> pa.ChunkedArray | pa.Array | None:
        """:attr:`names`; None above the bound. A Graph built without
        them (a dense-id Graph, or one constructed directly) fills them on
        first use: dense ids are cast on the driver, other vocabs are
        collected with one sort job."""
        if self.names is None and self.num_vertices <= blocks.DRIVER_STATE_MAX_VERTICES:
            self.names = (
                pc.cast(pa.array(np.arange(self.num_vertices)), pa.string()) if self._dense
                else self.vocab.orderBy("id").toArrow().column("name")
            )
        return self.names

    def emit(self, column: str, values: np.ndarray, sort_keys: list,
             nullable: bool = True) -> DataFrame:
        """A named result ``(name, id, column)`` ordered by ``sort_keys``
        (pyarrow ``(column, order)`` pairs). ``values`` is the n-vector
        of ``column`` by id (int64 or float64), ``nullable`` its
        nullability; name and id keep the vocab's, so the schema is the
        vocab join's. Below the bound it is sorted on the driver and
        returned as one ``LocalRelation``; above it, a vocab join +
        ``orderBy``."""
        kind = LongType() if values.dtype.kind == "i" else DoubleType()
        value = StructField(column, kind, nullable)
        table = pa.table({"id": np.arange(self.num_vertices, dtype=np.int64), column: values})
        names = self.driver_names()
        if names is None:
            frame = self.spark.createDataFrame(
                table, StructType([StructField("id", LongType(), False), value]))
            return self.with_names(frame).select("name", "id", column).orderBy(
                *[F.desc(c) if o == "descending" else F.asc(c) for c, o in sort_keys])
        table = table.add_column(0, "name", names)
        vocab = self.vocab.schema
        return self.spark.createDataFrame(
            table.take(pc.sort_indices(table, sort_keys=sort_keys)),
            StructType([vocab["name"], vocab["id"], value]),
        )

    def unpersist(self) -> None:
        """Release the edge frame, every store and every derived frame."""
        _release(self._owned, object)


def _release(owned: dict[str, object], kind: type) -> None:
    """Unpersist and forget the entries of ``owned`` that are ``kind``."""
    for key, obj in list(owned.items()):
        if isinstance(obj, kind):
            del owned[key]
            with suppress(Exception):
                obj.unpersist()


def sorted_scores(scored: DataFrame) -> DataFrame:
    """Reference output ordering: score desc, ties by name asc
    (``traits.rs:63-67``)."""
    return scored.orderBy(F.desc("score"), F.asc("name"))
