"""A DataFrame whose Spark plan is built on first use.

Creating a frame costs JVM work even when nothing ever runs it: a SQL
statement is parsed and analyzed, a file scan is resolved, a driver
vector is uploaded as a ``LocalRelation``. A producer whose frame is
often consumed on the driver without Spark (a small repo table's derive
frame, the loader frame over parquet footers, CSR PageRank's ``ranks``)
returns a :class:`DeferredFrame` instead: it holds a zero-argument
builder of today's frame and calls it the first time anything reads the
JVM ``Dataset``. A known ``schema`` is answered without building. A frame
whose rows the driver already holds (``Graph.emit``'s sorted result)
answers ``collect()`` from them, so collecting it builds no plan either.

It is a classic PySpark ``DataFrame``: every other method reads ``_jdf``,
so any other use builds exactly the plan the builder returns, and the
frame keeps its identity.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import cached_property

import pyarrow as pa
from pyspark.sql import Row, SparkSession
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.types import StructType


class DeferredFrame(DataFrame):
    """The frame ``build()`` returns, built on first use of ``_jdf``.

    ``schema``, when given, is the built frame's schema, answered with
    no build; ``recipe`` is whatever the producer records about the
    frame for driver-side readers, e.g. the inputs of ``build``.
    ``rows``, when given, is the built frame's rows in order:
    ``collect()`` returns them without a build. Its columns hold the
    schema's fields, none of which may need a Python conversion
    (strings and numbers do not; dates, timestamps and structs do).
    """

    def __new__(cls, *args, **kwargs):
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, build: Callable[[], DataFrame],
                 schema: StructType | None = None, recipe: object = None,
                 rows: pa.Table | None = None):
        self._session = spark
        self._sc = spark._sc  # noqa: SLF001
        self.is_cached = False
        self._support_repr_html = False
        self._build, self._known, self.recipe = build, schema, recipe
        self._rows = rows

    @cached_property
    def _jdf(self):
        try:
            return self._build()._jdf  # noqa: SLF001
        except AttributeError as e:
            # DataFrame.__getattr__ would take it for a column lookup,
            # which reads the schema, which reads _jdf again
            raise RuntimeError(f"building a deferred frame failed: {e}") from e

    @cached_property
    def schema(self) -> StructType:
        return self._known if self._known is not None else super().schema

    def collect(self) -> list[Row]:
        if self._rows is None:
            return super().collect()
        # the rows Spark's collect would unpickle: schema.fromInternal of
        # each tuple, an identity conversion for plain fields
        schema = self.schema
        return [schema.fromInternal(v)
                for v in zip(*(c.to_pylist() for c in self._rows.columns))]
