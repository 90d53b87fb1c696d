"""Triangle counting (per-vertex + global).

North-rule required; no reference implementation exists (the only
"triangle" in the tree is a k-core test fixture,
``/root/reference/crates/propagon/src/algos/kcore.rs:108-129``). Standard
semantics over the canonical undirected graph (dedup'd, self-loop-free —
same canonicalization as k-core, ``kcore.rs:47-58``).

Algorithm: the classic two-join node-iterator++ (MapReduce triangle
counting; Suri & Vassilvitskii 2011): orient each undirected edge from the
lower-(degree, id) endpoint to the higher one — every vertex's oriented
out-degree is O(sqrt(m)) — then join oriented edges on their source to
enumerate wedges and semi-join the wedge closures against the oriented
edge set, read as unordered id pairs. Skew-bounded by construction; both
joins shuffle on vertex keys.
The oriented edge frame is cached once per Graph (``Graph.cached``) and
released by ``Graph.unpersist()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.canon import canonical_undirected
from propagon_spark.graph.core import Graph


def _oriented(g: Graph) -> DataFrame:
    """Canonical undirected edges re-oriented by (degree, id) ascending."""
    und = canonical_undirected(g.edges)
    deg = (
        und.select(F.col("src").alias("id"))
        .unionAll(und.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    e = (
        und.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("sdeg")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("ddeg")), "dst")
    )
    lower_first = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    return e.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("b"),
    )


def triangles(g: Graph) -> DataFrame:
    """Return one row per triangle: ``(x, y, z)`` vertex ids with x<y<z."""
    o = g.cached("triangles.oriented", lambda: _oriented(g))
    # wedges centered at the low-order vertex: a→b, a→c with b != c
    w = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.a") == F.col("e2.a"))
        .where(F.col("e1.b") < F.col("e2.b"))
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    # closure: the edge {b, c}, whichever way o orients it (b < c by id)
    closures = w.join(
        o.select(F.least("a", "b").alias("b"), F.greatest("a", "b").alias("c")),
        ["b", "c"],
        "left_semi",
    )
    tri = closures.select(
        F.least("a", "b", "c").alias("x"),
        F.expr(
            "CAST(a AS LONG) + CAST(b AS LONG) + CAST(c AS LONG)"
        ).alias("_s"),
        F.greatest("a", "b", "c").alias("z"),
    ).select(
        "x",
        (F.col("_s") - F.col("x") - F.col("z")).alias("y"),
        "z",
    )
    return tri


def triangle_count(g: Graph) -> DataFrame:
    """Per-vertex triangle counts ``(name, id, triangles)`` — every vertex
    present, zero for triangle-free ones — ordered (triangles desc, id asc)."""
    tri = triangles(g)
    per_v = (
        tri.select(F.col("x").alias("id"))
        .unionAll(tri.select(F.col("y").alias("id")))
        .unionAll(tri.select(F.col("z").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    out = (
        g.vocab.join(per_v, "id", "left")
        .select(
            "name",
            "id",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        )
    )
    return out.orderBy(F.desc("triangles"), F.asc("id"))


def triangle_total(g: Graph) -> int:
    """Global triangle count."""
    return triangles(g).count()
