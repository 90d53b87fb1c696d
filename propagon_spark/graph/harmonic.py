"""Harmonic centrality (exact or sampled-source estimator; unit or
weighted edge cost).

Reference: ``/root/reference/crates/propagon/src/algos/harmonic.rs:46-117``.
Semantics:
- ``direction``: ``in`` sums ``1/d(j→i)`` over reachers j (forward-edge
  SSSP from each source), ``out`` reversed, ``total`` undirected;
- ``cost``: ``unit`` hops (BFS) or ``weight`` — the edge weight is a
  **length** (larger = farther, the opposite of the endorsement-strength
  reading), must be strictly positive and non-NaN or a typed error names
  the offending edge (``harmonic.rs:219-236``);
- source budget: all vertices (guarded by ``exact_max_vertices`` — one
  SSSP per vertex is O(V·E), a foot-gun at scale; the reference itself
  treats sampling as the scale path), ``count`` sampled distinct sources
  with scores scaled by n/count (Boldi-Vigna estimator), or an explicit
  ``sources`` name list for parity testing;
- unreachable pairs contribute exactly 0 (no special policy needed).

Seed caveat: sampled-source selection here uses xxhash64 order
statistics, NOT the reference's seeded Xoshiro Fisher-Yates — the same
``seed`` draws a *different* source set than the reference, so sampled
scores are only self-deterministic (same seed + same graph ⇒ same Spark
result at any parallelism), never comparable run-for-run with reference
sampled output. Pass ``sources=[...]`` explicitly for cross-engine
parity.

Spark shape: all sources advance one SSSP **together** — the state frame
is keyed ``(source, node)`` so each round is one join + aggregation over
the whole batch; rounds = shortest-path hop bound, not #sources. Both
costs run one Bellman-Ford-style relaxation on ``fixpoint``; unit cost
is every length 1.0, and relaxing only the pairs that improved in the
last round is then exactly the depth-bounded BFS. Per round, the
frontier (rows marked ``fresh``) × adjacency gives candidate distances,
min-combined with the held distances in one aggregation; a strict
improvement is fresh for the next round. The fresh count rides the
round's one job and stops the loop at 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.canon import symmetrize
from propagon_spark.errors import InvalidParameterError
from propagon_spark.graph.core import Graph, sorted_scores
from propagon_spark.plans.iterate import fixpoint, truncate_lineage

DEFAULT_SAMPLE_SEED = 2014

#: one-BFS-per-vertex exact mode refuses above this vertex count unless
#: the caller opts in with ``exact_max_vertices=None``
EXACT_MAX_VERTICES = 100_000


def harmonic(
    g: Graph,
    direction: str = "in",
    sample: int | None = None,
    seed: int = DEFAULT_SAMPLE_SEED,
    max_depth: int = 64,
    cost: str = "unit",
    sources: list[str] | None = None,
    exact_max_vertices: int | None = EXACT_MAX_VERTICES,
) -> DataFrame:
    """Return ``(name, score)``.

    ``sample=None`` (and no ``sources``) = exact — one SSSP per vertex,
    refused above ``exact_max_vertices`` (pass ``None`` to override).
    ``sources`` overrides both: run exactly those passes (scaled n/len).
    """
    if direction not in ("in", "out", "total"):
        raise InvalidParameterError(f"bad direction {direction!r}")
    if cost not in ("unit", "weight"):
        raise InvalidParameterError(f"bad cost {cost!r}")
    n = g.num_vertices
    if cost == "unit":
        w = F.lit(1.0)
    else:
        # weight = length; strictly positive and finite or typed error
        # naming the edge (harmonic.rs:219-236)
        # NULL needs an explicit test (NULL <= 0 is NULL, not true) and
        # +inf passes a <=0 check — both violate "strictly positive and
        # finite" and would otherwise silently drop from the min-agg
        bad = (
            g.edges.where(
                F.col("weight").isNull()
                | (F.col("weight") <= 0.0)
                | F.isnan("weight")
                | (F.col("weight") == float("inf"))
            )
            .limit(1)
            .collect()
        )
        if bad:
            b = bad[0]
            names = {
                r["id"]: r["name"]
                for r in g.vocab.where(
                    F.col("id").isin([b["src"], b["dst"]])
                ).collect()
            }
            raise InvalidParameterError(
                "harmonic with weighted edge cost requires strictly "
                f"positive weights; edge {names[b['src']]} → "
                f"{names[b['dst']]} has weight {b['weight']}"
            )
        w = F.col("weight")
    e = g.edges.select("src", "dst", w.alias("w"))
    if direction == "out":
        e = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    elif direction == "total":
        e = symmetrize(e)
    # parallel edges: the relaxation takes the min anyway — fold it in
    # now (for unit lengths this is the dedup)
    adj = e.groupBy(F.col("src").alias("node"), "dst").agg(F.min("w").alias("w"))

    vids = g.vocab.select("id")
    if sources is not None:
        src_names = g.spark.createDataFrame(
            [(str(s),) for s in sources], "name string"
        )
        matched = src_names.join(g.vocab, "name")
        k = matched.count()
        if k != len(sources):
            raise InvalidParameterError("unknown source name(s) for harmonic")
        source_ids = matched.select(F.col("id").alias("source"))
        scale = n / float(k)
    elif sample is None or sample >= n:
        if (
            sample is None
            and exact_max_vertices is not None
            and n > exact_max_vertices
        ):
            raise InvalidParameterError(
                f"exact harmonic is one SSSP per vertex (O(V*E)); refusing "
                f"at n={n} > exact_max_vertices={exact_max_vertices}. Pass "
                f"sample=<count> (Boldi-Vigna estimator) or "
                f"exact_max_vertices=None to override."
            )
        source_ids = vids.select(F.col("id").alias("source"))
        scale = 1.0
    else:
        # deterministic seeded distinct-source draw: the `sample` smallest
        # hash(id, seed) values (order-statistics sampling, no RNG stream;
        # self-deterministic only — see module docstring)
        source_ids = (
            vids.select(
                F.col("id").alias("source"),
                F.xxhash64(F.col("id"), F.lit(seed)).alias("_h"),
            )
            .orderBy("_h", "source")  # id tie-break: total order shared
            # with the DuckDB oracle even on a 64-bit hash collision
            .limit(sample)
            .select("source")
        )
        scale = n / float(sample)

    dist = _relax(source_ids, adj, max_depth)
    contrib = dist.where(F.col("d") > 0).groupBy("node").agg(
        F.sum(1.0 / F.col("d")).alias("h")
    )
    out = g.vocab.join(contrib.withColumnRenamed("node", "id"), "id", "left").select(
        "name",
        (F.coalesce("h", F.lit(0.0)) * F.lit(scale)).alias("score"),
    )
    return sorted_scores(out)


def _relax(sources: DataFrame, adj: DataFrame, max_rounds: int) -> DataFrame:
    """Batched SSSP by dataflow relaxation (Bellman-Ford rounds with
    min-combine) over ``adj`` = ``(node, dst, w)``: ``(source, node, d,
    fresh)``, exact shortest path lengths once no distance improves,
    bounded by ``max_rounds`` hops."""
    adj = truncate_lineage(adj)
    dist = truncate_lineage(
        sources.select(
            "source",
            F.col("source").alias("node"),
            F.lit(0.0).alias("d"),
            F.lit(True).alias("fresh"),
        )
    )

    def step(dist: DataFrame) -> DataFrame:
        # the frontier's candidates and the held distances, tagged
        # ``held``, meet in ONE (source, node) aggregation
        cand = (
            dist.where("fresh")
            .join(adj, "node")
            .select(
                "source",
                F.col("dst").alias("node"),
                (F.col("d") + F.col("w")).alias("d"),
                F.lit(False).alias("held"),
            )
        )
        return (
            dist.select("source", "node", "d", F.lit(True).alias("held"))
            .unionAll(cand)
            .groupBy("source", "node")
            .agg(
                F.min("d").alias("d"),
                F.min(F.when(F.col("held"), F.col("d"))).alias("cur"),
            )
            .select(
                "source",
                "node",
                "d",
                (F.col("cur").isNull() | (F.col("d") < F.col("cur"))).alias(
                    "fresh"
                ),
            )
        )

    dist, _ = fixpoint(
        dist,
        step,
        {"fresh": F.count(F.when(F.col("fresh"), 1))},
        lambda turn, m, last: m["fresh"] == 0,
        max_turns=max_rounds,
        invariants=[adj],
    )
    return dist
