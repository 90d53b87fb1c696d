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
- a small Graph lives on the driver, from build to store. An input of at
  most ``plans.blocks.DRIVER_STORE_MAX_EDGE_ROWS`` rows is collected
  once with Arrow and interned there (:meth:`Graph.from_edges`); a
  co-commit frame from ``sources.repo_table.derive_edges`` is not even
  planned below that bound: ``sources.repo_table.driver_derive`` derives
  its rows from its repo table instead. The Graph holds its
  id-typed edge columns (:meth:`Graph.driver_edges`) and creates its
  vocab and edge frames from them only when something first reads
  them; the edge frame is cached by the first dataflow kernel that
  scans it, so a CSR-only use uploads neither. Any Graph at or below that many edge
  rows cuts each store form in numpy from those columns; one that was
  not built on the driver collects its edge frame once for them.

Below the driver-state bound (``plans.blocks.DRIVER_STATE_MAX_VERTICES``)
a Graph also holds its ``names`` on the driver, one Arrow column in id
order (a dense-id Graph casts its ids on first use): k-core, LPA and CSR
PageRank sort and name their results there (:meth:`Graph.emit`), so each
is a deferred frame over the sorted driver rows: collecting it reads
them with no plan and no Spark job, and any other read builds one
``LocalRelation``. Above the bound
the names stay in the vocab frame and a forced CSR PageRank emits
through a vocab join + ``orderBy``. A Graph owns one edge-block store
per canonical form a kernel asks for (:meth:`Graph.store`:
``"undirected"`` for k-core and LPA, ``"out"`` / ``"out_reverse"`` for
CSR PageRank), built on first use, at most once per Graph, on the
driver or in worker shards (see above). Stores, the driver-held edge
columns and derived frames (:meth:`Graph.cached`) live until
:meth:`Graph.unpersist`; a Graph that is garbage-collected first still
deletes its stores' files. A copy made with ``dataclasses.replace(g,
_owned={})`` (bootstrap replicates, bench repeats) shares none of them.
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

from propagon_spark import canon
from propagon_spark.errors import EmptyDatasetError
from propagon_spark.ids import VOCAB_SCHEMA, _build_vocab, driver_vocab, vocab_frame
from propagon_spark.plans import blocks
from propagon_spark.plans.deferred import DeferredFrame
from propagon_spark.sources.repo_table import driver_derive

#: the canonical forms :meth:`Graph.store` builds: each as a plan over
#: the edge frame (worker stores) and as its numpy twin over the
#: driver-held id columns (driver stores)
_FORMS: dict[str, tuple[Callable[[DataFrame], DataFrame], Callable]] = {
    "undirected": (canon.undirected_adjacency, canon.undirected_pairs),
    "out": (canon.dedup_edges, canon.unique_pairs),
    "out_reverse": (lambda e: canon.reverse_sinks(canon.dedup_edges(e)),
                    canon.reverse_sinks_pairs),
}


class _FirstRead:
    """A frame field that may be given a zero-argument builder in place
    of the frame: the builder runs on the field's first read, and the
    frame it returns is kept."""

    def __set_name__(self, owner, name):
        self.slot = "_" + name

    def __get__(self, g, owner=None):
        if g is None:  # the dataclass asks for a default: there is none
            raise AttributeError(self.slot)
        value = g.__dict__[self.slot]
        if not isinstance(value, DataFrame):
            value = g.__dict__[self.slot] = value()
        return value

    def __set__(self, g, value):
        g.__dict__[self.slot] = value


@dataclass
class Graph:
    """An interned, id-typed edge list.

    Attributes:
        vocab: ``(name, id)`` — dense long ids, deterministic.
        edges: ``(src: long, dst: long, weight: double)`` — parallel edges
            preserved (canonicalization is per-algorithm, see canon.py).
            A Graph built on the driver creates both frames on first read.
        num_vertices: entity count (== vocab rows).
        spark: the session the frames belong to.
        names: the vocab's names in id order, held on the driver at or
            below the driver-state bound (see :meth:`driver_names`);
            None above it.
    """

    vocab: DataFrame = _FirstRead()
    edges: DataFrame = _FirstRead()
    num_vertices: int
    num_edge_rows: int
    spark: SparkSession
    names: pa.ChunkedArray | pa.Array | None = None
    #: what :meth:`unpersist` releases: the edge frame, the driver-held
    #: edge columns, the stores and the derived frames, by key
    _owned: dict[str, object] = field(default_factory=dict)
    #: ids are their own names (:meth:`from_dense_ids`)
    _dense: bool = False

    def __post_init__(self):
        # stores are files, which no JVM cleanup deletes: a Graph nobody
        # unpersists releases them when it is garbage-collected
        weakref.finalize(self, _release, self._owned, blocks.EdgeBlocks)

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
        ``propagon-cli/src/io.rs:117-122``). Vertices are all non-null
        edge endpoints, matching the reference where only pushed names
        exist; a row with a null endpoint is dropped after its other
        name joined the vocab.

        A frame returned by ``sources.repo_table.derive_edges``, with the
        default column names and its ``weight`` or none, is built on the
        driver by ``sources.repo_table.driver_derive`` when that derives
        it within ``plans.blocks.DRIVER_STORE_MAX_EDGE_ROWS``. Any other
        input is normalized, persisted and probed with one collect of
        at most that many + 1 rows; if the probe holds the
        whole input, it is interned on the driver
        (:func:`ids.driver_vocab` ranks the names, ``pc.index_in`` maps
        them to ids). A Graph built on the
        driver holds its id-typed edge columns and creates its vocab and
        edge frames on first read. Otherwise the vocab is built with
        Spark, the names are interned by two joins and the edge frame is
        cached eagerly. All paths give the same ids, names and edge rows.
        """
        spark = edges.sparkSession
        bound = blocks.DRIVER_STORE_MAX_EDGE_ROWS
        if (src, dst) == ("src", "dst") and weight in ("weight", None):
            derived = driver_derive(edges, bound)
            if derived is not None:
                names, s, d, w = derived
                held = pa.table({"src": s, "dst": d,
                                 "weight": w if weight else np.ones(len(w))})
                # the plan's weight, a count or lit(1.0), is never null
                return cls._driver_built(spark, names, held, num_partitions,
                                         StructField("weight", DoubleType(), False))

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
        # The input plan executes more than once below: under the probe,
        # and above the bound under the vocab's name-distinct scan and
        # the interning join. Callers routinely pass expensive
        # derivations (the co-commit pair aggregation: two shuffles over
        # the repo table), so materialize the normalized frame once and
        # release it as soon as the Graph is built.
        raw.persist(blocks.STORAGE)
        try:
            # a limit, not a count: below the bound the probe is the
            # whole input, and above it the probe's scan fills the cache
            # the joins read
            probe = raw.limit(bound + 1).toArrow()
            if probe.num_rows <= bound:
                return cls._from_arrow(spark, probe, num_partitions,
                                       raw.schema["weight"])
            if num_partitions is None:
                num_partitions = _shuffle_partitions(spark)

            names = raw.select(F.col("src_name").alias("name")).unionAll(
                raw.select(F.col("dst_name").alias("name"))
            )
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
            # One stable hash partitioning by src, reused by every scatter
            # join in the iterative kernels (kills one Exchange per
            # iteration).
            e = e.repartition(num_partitions, "src").persist(blocks.STORAGE)
            m = e.count()
        finally:
            raw.unpersist(blocking=False)

        return cls(vocab, e, n, m, spark, names, {"edges": e})

    @classmethod
    def _from_arrow(cls, spark: SparkSession, probe: pa.Table,
                    num_partitions: int | None, weight: StructField) -> "Graph":
        """:meth:`from_edges` of a normalized input, the whole of which
        is ``probe``: interned on the driver."""
        src, dst = probe.column("src_name"), probe.column("dst_name")
        both = pa.chunked_array(src.chunks + dst.chunks, src.type)
        names = driver_vocab(pc.unique(both).drop_null())
        held = pa.table({
            "src": pc.index_in(src, value_set=names).cast(pa.int64()),
            "dst": pc.index_in(dst, value_set=names).cast(pa.int64()),
            "weight": probe.column("weight"),
        })
        # the inner joins' semantics: a null endpoint has no id
        held = held.filter(pc.and_(pc.is_valid(held["src"]),
                                   pc.is_valid(held["dst"]))).combine_chunks()
        return cls._driver_built(spark, names, held, num_partitions, weight)

    @classmethod
    def _driver_built(cls, spark: SparkSession, names, held: pa.Table,
                      num_partitions: int | None, weight: StructField) -> "Graph":
        """The Graph of ``names`` (in id order) and the id-typed
        ``(src, dst, weight)`` columns ``held``, which it keeps on the
        driver; ``weight`` is the edge frame's weight field. The vocab
        and edge frames are created from them on first read; the edge
        frame is partitioned by ``src`` as the joined one is (into
        ``num_partitions``, or the session's shuffle partitions at that
        read), and cached by the first kernel that scans it."""
        n = len(names)
        if n == 0:
            raise EmptyDatasetError("empty edge dataset")
        owned = {"driver_edges": held}
        schema = StructType([StructField("src", LongType()),
                             StructField("dst", LongType()), weight])

        def edges() -> DataFrame:
            # read from owned, not held: unpersist() frees the columns
            if "driver_edges" not in owned:
                raise RuntimeError("the Graph was unpersisted before its edges were read")
            e = spark.createDataFrame(owned["driver_edges"], schema)
            parts = _shuffle_partitions(spark) if num_partitions is None else num_partitions
            e = owned["edges"] = e.repartition(parts, "src").persist(blocks.STORAGE)
            return e

        kept = names if n <= blocks.DRIVER_STATE_MAX_VERTICES else None
        return cls(lambda: vocab_frame(spark, names), edges, n, held.num_rows, spark, kept, owned)

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
            num_partitions = _shuffle_partitions(spark)
        # same stable src hash partitioning + cache as from_edges —
        # kernels rely on both
        e = e.repartition(num_partitions, "src").persist(blocks.STORAGE)
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
        return cls(vocab, e, n, m, spark, None, {"edges": e}, _dense=True)

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
        until :meth:`unpersist`: cut in numpy from :meth:`driver_edges`
        at or below the edge bound, written as worker shards above it."""
        plan, cut = _FORMS[form]

        def build():
            held = self.driver_edges()
            if held is None:
                return blocks.build(plan(self.edges), self.num_vertices)
            src, dst = (held.column(c).to_numpy() for c in ("src", "dst"))
            return blocks.DriverBlocks(self.num_vertices, *cut(src, dst))

        return self._own(form, build)

    def driver_edges(self) -> pa.Table | None:
        """The id-typed ``(src, dst, weight)`` edge columns, held on the
        driver at or below ``plans.blocks.DRIVER_STORE_MAX_EDGE_ROWS``
        edge rows (read at call time); None above it. A Graph interned on
        the driver holds them from its build; any other (a dense-id
        Graph, a bootstrap replicate, a copy with its own ``_owned``)
        collects :attr:`edges` once, on first use. Kept until
        :meth:`unpersist`."""
        if self.num_edge_rows > blocks.DRIVER_STORE_MAX_EDGE_ROWS:
            return None
        return self._own("driver_edges", lambda: self.edges.select(
            "src", "dst", "weight").toArrow().combine_chunks())

    def cached(self, key: str, frame: Callable[[], DataFrame]) -> DataFrame:
        """``frame()`` persisted and materialized on first use, and kept
        under ``key`` until :meth:`unpersist`."""

        def build():
            df = frame().persist(blocks.STORAGE)
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
             nullable: bool | None = True) -> DataFrame:
        """A named result ``(name, id, column)`` ordered by ``sort_keys``
        (pyarrow ``(column, order)`` pairs). ``values`` is the n-vector
        of ``column`` by id (int64 or float64), ``nullable`` its
        nullability (None: the id's, for a column of ids); name and id
        keep the vocab's, so the schema is the vocab join's. Below the
        bound it is sorted on the driver and returned as a deferred
        frame of those rows: ``collect()`` returns them without the JVM,
        and any other read builds one ``LocalRelation`` of them. Above
        the bound it is a vocab join + ``orderBy``."""
        # a vocab still to be created is a vocab_frame: its schema is known
        made = isinstance(self.__dict__["_vocab"], DataFrame)
        vocab = self.vocab.schema if made else VOCAB_SCHEMA
        kind = LongType() if values.dtype.kind == "i" else DoubleType()
        value = StructField(column, kind, vocab["id"].nullable if nullable is None else nullable)
        table = pa.table({"id": np.arange(self.num_vertices, dtype=np.int64), column: values})
        names = self.driver_names()
        if names is None:
            frame = self.spark.createDataFrame(
                table, StructType([StructField("id", LongType(), False), value]))
            return self.with_names(frame).select("name", "id", column).orderBy(
                *[F.desc(c) if o == "descending" else F.asc(c) for c, o in sort_keys])
        table = table.add_column(0, "name", names)
        rows = table.take(pc.sort_indices(table, sort_keys=sort_keys))
        schema = StructType([vocab["name"], vocab["id"], value])
        return DeferredFrame(self.spark, lambda: self.spark.createDataFrame(rows, schema),
                             schema, rows=rows)

    def unpersist(self) -> None:
        """Release the edge frame, every store and every derived frame."""
        _release(self._owned, object)


def _shuffle_partitions(spark: SparkSession) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _release(owned: dict[str, object], kind: type) -> None:
    """Unpersist and forget the entries of ``owned`` that are ``kind``."""
    for key, obj in list(owned.items()):
        if isinstance(obj, kind):
            del owned[key]
            if hasattr(obj, "unpersist"):  # not the driver-held columns
                with suppress(Exception):
                    obj.unpersist()


def sorted_scores(scored: DataFrame) -> DataFrame:
    """Reference output ordering: score desc, ties by name asc
    (``traits.rs:63-67``)."""
    return scored.orderBy(F.desc("score"), F.asc("name"))
