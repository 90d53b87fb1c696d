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

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from propagon_spark.canon import symmetrize
from propagon_spark.graph.core import Graph
from propagon_spark.plans.iterate import truncate_lineage, truncate_lineage_lazy
from propagon_spark.progress import as_progress

# deserialized columnar cache: the serialized level costs ~1.5x to build
# and ~3.5x per re-read at 2e8 rows (measured; see BENCH/BASELINE.md) -
# iterative kernels re-read their persisted frames every pass
_STORAGE = StorageLevel.MEMORY_AND_DISK_DESER


def _min_label_fixpoint(g: Graph, prog=None) -> DataFrame:
    """Return (id, label) with label = min vertex id reachable (undirected)."""
    nparts = g.edges.rdd.getNumPartitions()
    sym = (
        symmetrize(g.edges.select("src", "dst"))
        .distinct()
        .repartition(nparts, "src")
        .persist(_STORAGE)
    )
    sym.count()

    labels = (
        g.vocab.select("id", F.col("id").alias("label"))
        .repartition(nparts, "id")
        .transform(truncate_lineage)
    )

    rnd = 0
    if prog is not None:
        prog.start("components")
    while True:
        rnd += 1
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
        obs = Observation()
        updated = (
            updated.join(lbl_of_lbl, "l1", "left")
            .select(
                "id",
                "old",
                F.least(F.col("l1"), F.coalesce("ll", F.col("l1"))).alias("label"),
            )
            .repartition(nparts, "id")
            .observe(
                obs,
                F.sum(
                    F.when(F.col("label") != F.col("old"), 1).otherwise(0)
                ).alias("changed"),
            )
            .drop("old")
            # labels feeds three branches of this plan: truncate lineage
            # every round or the logical plan grows exponentially; the
            # changed-count rides the same job as an observed metric
            .transform(truncate_lineage)
        )
        changed = obs.get["changed"]
        labels = updated
        if prog is not None:
            prog.iteration("components", {"round": rnd, "changed": int(changed)})
        if changed == 0:
            break

    if prog is not None:
        prog.finish()
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
    labels = _min_label_fixpoint(g, prog=as_progress(progress))
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
