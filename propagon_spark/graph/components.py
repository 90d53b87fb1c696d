"""Weakly-connected components.

Reference semantics (``/root/reference/crates/propagon/src/algos/components.rs:12-66``):
undirected reachability over all edge endpoints; each component keeps its
original directed edges; output ordered largest component first. The
reference assigns component ids by single-threaded DFS — at scale we use
iterative **min-label propagation** (hash-min, the dataflow variant of
Kiveris et al.'s star algorithms): every vertex starts with its own id and
repeatedly takes the min label in its closed neighborhood until a fixpoint.

Exact-parity guarantee (north rule "components match exactly"): labels are
**integer min-reductions** with deterministic tie-breaks — no floats — so
membership is identical at any parallelism. Convergence is O(diameter)
rounds of one shuffle each; each round also halves distances by
propagating over the label graph (pointer-doubling style shortcut: after
each round, vertices adopt the label *of their label*), giving
O(log diameter) behavior on long chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.canon import undirected_adjacency
from propagon_spark.graph.core import Graph
from propagon_spark.plans import blocks
from propagon_spark.plans.iterate import fixpoint, truncate_lineage
from propagon_spark.progress import as_progress


def _min_label_fixpoint(g: Graph, progress=None) -> DataFrame:
    """Return (id, label) with label = min vertex id reachable (undirected)."""
    nparts = g.edges.rdd.getNumPartitions()
    # self-loops are dropped: a loop only offers a vertex its own label,
    # which least(old, ·) below keeps anyway
    sym = undirected_adjacency(g.edges).persist(blocks.STORAGE)
    sym.count()

    def step(labels: DataFrame) -> DataFrame:
        # gather: min label over in-neighbors (sym is symmetric, so this is
        # the full undirected neighborhood)
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        updated = labels.withColumnRenamed("label", "old").join(
            nbr_min, "id", "left"
        ).select(
            "id",
            "old",
            F.least(F.col("old"), F.coalesce("nlabel", F.col("old"))).alias("l1"),
        )
        # shortcut: adopt the label of my label (pointer-doubling style) —
        # labels are vertex ids, so look the label up as a vertex
        lbl_of_lbl = labels.select(
            F.col("id").alias("l1"), F.col("label").alias("ll")
        )
        # labels feeds three branches of this plan: fixpoint truncates
        # lineage every round or the logical plan grows exponentially
        return (
            updated.join(lbl_of_lbl, "l1", "left")
            .select(
                "id",
                "old",
                F.least(F.col("l1"), F.coalesce("ll", F.col("l1"))).alias("label"),
            )
            .repartition(nparts, "id")
        )

    labels, _ = fixpoint(
        g.vocab.select("id", F.col("id").alias("label"))
        .repartition(nparts, "id")
        .transform(truncate_lineage),
        step,
        {"changed": F.sum(F.when(F.col("label") != F.col("old"), 1).otherwise(0))},
        lambda _turn, m, _last: m["changed"] == 0,
        progress=as_progress(progress),
        phase="components",
        row=lambda turn, m: {"round": turn, "changed": int(m["changed"])},
    )
    sym.unpersist()
    return labels


def connected_components(
    g: Graph, min_size: int = 1, progress=None
) -> DataFrame:
    """Return ``(name, id, component, component_size)``; component = min
    member vertex id; rows of components smaller than ``min_size`` dropped;
    ordered by (component_size desc, component asc, id asc) — the
    reference's largest-first output (``components.rs:58-65``).

    ``progress``: Progress instance or ``callable(phase, metrics_row)``
    invoked per fixpoint round with ``{"round", "changed"}``
    (reference FR-3.5, ``progress.rs:1-30``)."""
    labels = _min_label_fixpoint(g, progress)
    sizes = labels.groupBy("label").agg(F.count("*").alias("component_size"))
    out = (
        labels.join(sizes, "label")
        .where(F.col("component_size") >= min_size)
        .select(
            "id",
            F.col("label").alias("component"),
            "component_size",
        )
    )
    out = g.with_names(out).select("name", "id", "component", "component_size")
    return out.orderBy(
        F.desc("component_size"), F.asc("component"), F.asc("id")
    )


def extract_components(
    g: Graph, min_size: int = 1
) -> list[tuple[list[str], DataFrame]]:
    """Reference-shaped output: one (member_names, directed_edges) per
    component, largest first (``components.rs:12-66``). Driver-side list —
    intended for small/medium component counts; at scale use
    :func:`write_components` (partitioned write) instead."""
    cc = connected_components(g, min_size=min_size)
    edges_named = (
        g.edges.join(
            g.vocab.select(F.col("id").alias("src"), F.col("name").alias("src_name")),
            "src",
        )
        .join(
            g.vocab.select(F.col("id").alias("dst"), F.col("name").alias("dst_name")),
            "dst",
        )
        .join(
            cc.select(F.col("id").alias("src"), "component").distinct(), "src"
        )
    )
    # one ordered collect: cc is sorted (size desc, component asc, id
    # asc), so first appearance orders the components and members arrive
    # in id order
    members: dict[int, list[str]] = {}
    for r in cc.select("component", "name").collect():
        members.setdefault(r["component"], []).append(r["name"])
    return [
        (
            names,
            edges_named.where(F.col("component") == comp).select(
                F.col("src_name").alias("src"), F.col("dst_name").alias("dst"),
                "weight",
            ),
        )
        for comp, names in members.items()
    ]


def write_components(g: Graph, path: str, min_size: int = 1) -> None:
    """Scale path for the CLI's per-component split
    (``propagon-cli/src/main.rs:2649-2669``): one Parquet partition
    directory per component via ``partitionBy`` — no driver loop."""
    cc = connected_components(g, min_size=min_size)
    edges_comp = g.edges.join(
        cc.select(F.col("id").alias("src"), "component"), "src"
    )
    edges_comp.write.mode("overwrite").partitionBy("component").parquet(path)
