"""Bootstrap resampling + confidence intervals over graph fits.

Reference: ``/root/reference/crates/propagon/src/dataset/resample.rs:87-95``
(edge-unit i.i.d. with-replacement resample, interner preserved) and
``crates/propagon/src/algos/bootstrap.rs`` (fit N replicates → per-entity
score & rank CIs; CLI ``--bootstrap N``,
``propagon-cli/src/main.rs:1777-1804``).

Spark mapping: exact n-draw multinomial resampling serializes through the
driver, so the scale-appropriate equivalent is the standard **Poisson
bootstrap** (Chamandy et al., Google 2012): each edge appears
``Poisson(1)`` times per replicate — i.i.d. across edges, expected size
n, fully distributed and seeded. Multiplicity is drawn JVM-side via an
inverse-CDF when-chain on a hash-derived uniform
(``xxhash64(src·2³¹ + dst, seed)`` — round 5: replaced ``rand(seed)``,
whose substreams are PARTITION-assigned, so draws changed with
parallelism and no SQL oracle could replay them; the hash key makes the
whole Poisson bootstrap deterministic at any cluster width AND
bit-replayable in DuckDB). P(k>9) < 1e-7 at λ=1. The interner/vertex
universe is preserved by fitting replicates on the same Graph vocab
(vertices with no sampled edges keep teleport-only mass — matching the
reference where the interner is cloned).

Hash-keyed caveat: draws are i.i.d. across (src, dst) EDGE IDENTITIES,
not physical rows — rows duplicating the same (src, dst) share one draw
per replicate. Canonical Graph edge frames aggregate duplicates into
``weight`` before fitting, so the distinction is moot on every engine
path; resampling a deliberately row-duplicated frame correlates the
copies (documented, accepted — the reference resamples post-aggregation
datasets too).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from propagon_spark.graph.core import Graph
from propagon_spark.rng import edge_key, hash_uniform01

# inverse CDF thresholds for Poisson(1): cdf[k] = P(X <= k)
_POIS_CDF = []
_acc = 0.0
for _k in range(10):
    _acc += math.exp(-1.0) / math.factorial(_k)
    _POIS_CDF.append(_acc)


def poisson_multiplicity(u: F.Column) -> F.Column:
    """Poisson(1) draw as an inverse-CDF when-chain over a uniform [0,1)
    column — vectorized, whole-stage-codegen friendly, engine-agnostic
    (the same thresholds render as a CASE chain in the DuckDB twin)."""
    expr = F.lit(len(_POIS_CDF))
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        expr = F.when(u < F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(expr)
    return expr


def resample_edges(edges: DataFrame, seed: int) -> DataFrame:
    """Poisson-bootstrap replicate of an id-typed edge frame: each
    (src, dst) row repeated Poisson(1) times, the draw keyed on
    ``xxhash64(src·2³¹ + dst, seed)`` — deterministic at any
    parallelism and SQL-replayable (see module docstring)."""
    u = hash_uniform01(edge_key(F.col("src"), F.col("dst")), seed)
    return (
        edges.withColumn("_m", poisson_multiplicity(u))
        .where(F.col("_m") > 0)
        .withColumn("_i", F.explode(F.sequence(F.lit(1), F.col("_m"))))
        .drop("_m", "_i")
    )


def resample_edges_exact(edges: DataFrame, seed: int) -> DataFrame:
    """Exact n-with-replacement resample — the reference's semantics
    (``resample.rs:87-95``): exactly n draws, uniform over rows.

    Parity/small-data mode: rows get a global ``row_number`` over a
    deterministic total order (one single-partition window — the reason
    this is not the scale default), then draw i ∈ [0, n) picks row
    ``xxhash64(i, seed) mod n``. Hash-keyed draws are deterministic at
    any parallelism (unlike ``rand``, whose substreams are assigned per
    partition). The Poisson variant above is the distributed default;
    this mode exists so bootstrap CIs can be checked golden-style.
    """
    n = edges.count()
    if n == 0:
        return edges
    order = [F.col(c) for c in edges.columns]
    numbered = edges.withColumn(
        "_rn", F.row_number().over(Window.orderBy(*order)) - 1
    )
    draws = edges.sparkSession.range(n).select(
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(n)).alias("_rn")
    )
    return draws.join(numbered, "_rn").drop("_rn")


@dataclass
class BootstrapResult:
    intervals: DataFrame  # (name, score_mean, score_lo, score_hi, rank_lo, rank_hi)
    replicates: int


def bootstrap(
    g: Graph,
    fit,
    replicates: int = 32,
    seed: int = 42,
    lo: float = 0.025,
    hi: float = 0.975,
    method: str = "poisson",
) -> BootstrapResult:
    """Fit ``fit(replicate_graph) -> (name, score) DataFrame`` on
    ``replicates`` resamples of ``g``; return per-entity score mean/CI
    and rank CI (percentiles over replicates).

    ``fit`` receives a Graph sharing ``g``'s vocab with resampled edges.
    ``method="poisson"`` (default) is the distributed Poisson bootstrap;
    ``method="exact"`` is the reference's exact n-draw resample
    (``resample.rs:87-95``) — deterministic and golden-checkable, but it
    serializes a global row numbering, so small data only.
    """
    if method not in ("poisson", "exact"):
        raise ValueError(f"method must be poisson|exact, got {method!r}")
    sampler = resample_edges if method == "poisson" else resample_edges_exact
    all_scores = None
    for r in range(replicates):
        # g's vocab and names; its stores and frames stay g's own
        rg = replace(g, edges=sampler(g.edges, seed + r), _owned={})
        s = fit(rg).select("name", "score").withColumn("_rep", F.lit(r))
        s = s.withColumn(
            "_rank",
            F.row_number().over(
                Window.partitionBy("_rep").orderBy(
                    F.desc("score"), F.asc("name")
                )
            ),
        )
        all_scores = s if all_scores is None else all_scores.unionAll(s)

    # EXACT percentiles (type-7 interpolation), not percentile_approx:
    # per-name state is O(replicates) — a user-chosen small constant, so
    # exactness is scale-safe (the sketch only wins on unbounded groups)
    # — and the reference indexes sorted replicate scores directly
    # (bootstrap.rs percentile over the replicate vector), which the
    # interpolating exact percentile matches and a sketch does not.
    out = (
        all_scores.groupBy("name")
        .agg(
            F.avg("score").alias("score_mean"),
            F.percentile("score", F.lit(lo)).alias("score_lo"),
            F.percentile("score", F.lit(hi)).alias("score_hi"),
            F.percentile("_rank", F.lit(lo)).alias("rank_lo"),
            F.percentile("_rank", F.lit(hi)).alias("rank_hi"),
        )
        .orderBy(F.desc("score_mean"), F.asc("name"))
    )
    return BootstrapResult(intervals=out, replicates=replicates)
