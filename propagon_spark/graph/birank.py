"""BiRank (bipartite ranking).

Reference: ``/root/reference/crates/propagon/src/algos/birank.rs:140-235``.
Key semantics:
- **side-local id spaces**: the same name on the src side and the dst side
  is two different entities (``birank.rs:3-6,147-173``);
- sqrt-degree normalization: ``d[i] = sqrt(Σ w)`` per side;
- alternating sweeps ``p ← f(u)`` then ``u ← f(p)`` with the *refreshed*
  other side; with no priors configured the prior term collapses so α/β
  scaling cancels (``next = α·s + (1−α)·s = s``, ``birank.rs:196-199``);
- seeded random init (v2 RNG, default seed 2019), fixed 10 iterations.

Spark mapping: two vocab spaces; the sweep is a join-agg with
``w/(d_l·d_r)`` folded into the edge frame once; both sides live in one
state frame ``(side, id, value)``, and each sweep (p from u, then u from
the refreshed p) is one ``fixpoint`` turn, one materializing job; random
init derived from ``xxhash64(id, seed)`` — truly deterministic at any
parallelism (unlike ``F.rand``, whose stream is seeded per-partition). The stream still
differs from the reference's Xoshiro, so parity with golden files is
rank-correlation, not numeric — same tier-S contract as the reference's
own golden tests (``crates/propagon-cli/tests/golden.rs:176-212``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.errors import EmptyDatasetError
from propagon_spark.graph.core import sorted_scores
from propagon_spark.ids import build_vocab
from propagon_spark.plans.iterate import fixpoint, truncate_lineage


@dataclass
class BiRankResult:
    src_scores: DataFrame  # (name, score)
    dst_scores: DataFrame  # (name, score)
    iterations: int


def birank(
    edges: DataFrame,
    iterations: int = 10,
    alpha: float = 1.0,
    beta: float = 1.0,
    seed: int = 2019,
    init: str = "random",
    src_init: DataFrame | None = None,
) -> BiRankResult:
    """Fit BiRank on a raw (src, dst[, weight]) frame (NOT a Graph — the
    two sides get independent id spaces).

    ``init="random"`` is the reference's seeded random start
    (``birank.rs:189-194``; deterministic here via xxhash64, but not
    SQL-reproducible). ``init="uniform"`` starts both sides at 1.0 —
    with no priors the sweep is pure propagation (``birank.rs:196-199``),
    so the trajectory is a plain linear recurrence that an unrolled SQL
    twin can reproduce exactly; this is the oracle-checkable parity mode.

    ``src_init``: optional ``(name, value)`` frame overriding the
    src-side init — reference-stream parity mode: feed
    :func:`propagon_spark.xoshiro.birank_reference_init`'s u₀ to start
    from the reference's exact Xoshiro draw (the dst-side init is dead
    state: the first sweep writes p before reading it, in ``birank.rs``
    and here alike). Names absent from ``src_init`` start at 0.0.
    """
    if init not in ("random", "uniform"):
        raise ValueError(f"init must be random|uniform, got {init!r}")
    cols = edges.columns
    w = F.col("weight").cast("double") if "weight" in cols else F.lit(1.0)
    raw = edges.select(
        F.col("src").cast("string").alias("sname"),
        F.col("dst").cast("string").alias("dname"),
        w.alias("w"),
    )
    if raw.rdd.isEmpty():
        raise EmptyDatasetError("empty edge dataset")

    sv = build_vocab(raw.select(F.col("sname").alias("name")))
    dv = build_vocab(raw.select(F.col("dname").alias("name")))

    e = (
        raw.join(sv.select(F.col("name").alias("sname"), F.col("id").alias("si")), "sname")
        .join(dv.select(F.col("name").alias("dname"), F.col("id").alias("di")), "dname")
        .select("si", "di", "w")
    )
    d_src = e.groupBy("si").agg(F.sqrt(F.sum("w")).alias("ds"))
    d_dst = e.groupBy("di").agg(F.sqrt(F.sum("w")).alias("dd"))
    # normalized edge weight w/(d_src·d_dst), computed once
    en = truncate_lineage(
        e.join(d_src, "si")
        .join(d_dst, "di")
        .select("si", "di", (F.col("w") / (F.col("ds") * F.col("dd"))).alias("nw"))
    )

    # seeded pseudo-random init per side: hash(id, seed) → uniform [0,1).
    # Partition-count-independent, unlike F.rand(seed) whose substream is
    # assigned per partition — and bit-replayable in DuckDB (round 5:
    # the random-init query is oracle-checked via the xxhash64 replay;
    # ids are name ranks, so the oracle reproduces them exactly).
    from propagon_spark.rng import hash_uniform01 as hash01

    if init == "uniform":
        u0 = F.lit(1.0)
        p0 = F.lit(1.0)
    else:
        u0 = hash01(F.col("id"), seed)
        p0 = hash01(F.col("id"), seed + 1)
    if src_init is not None:
        u = sv.join(
            src_init.select("name", F.col("value").alias("_u0")),
            "name",
            "left",
        ).select("id", F.coalesce("_u0", F.lit(0.0)).alias("value"))
    else:
        u = sv.select("id", u0.alias("value"))
    # side 0 = src (u), 1 = dst (p)
    state = truncate_lineage(
        u.select(F.lit(0).alias("side"), "id", "value").unionAll(
            dv.select(F.lit(1).alias("side"), "id", p0.alias("value"))
        )
    )

    def sweep(state: DataFrame) -> DataFrame:
        # p ← normalized gather of u (alpha cancels with no priors), then
        # u ← gather of the refreshed p. p is read twice, as output and
        # by the u gather: the explicit not-null filter (the one the u
        # join infers) makes both reads one plan, so they share one
        # exchange (ReusedExchange) instead of gathering p twice
        u = state.where(F.col("side") == 0).select(
            F.col("id").alias("si"), F.col("value").alias("u")
        )
        p = (
            en.join(u, "si")
            .groupBy(F.col("di").alias("id"))
            .agg(F.sum(F.col("nw") * F.col("u")).alias("value"))
            .where(F.col("id").isNotNull())
        )
        u_new = (
            en.join(p.withColumnRenamed("id", "di"), "di")
            .groupBy(F.col("si").alias("id"))
            .agg(F.sum(F.col("nw") * F.col("value")).alias("value"))
        )
        return u_new.select(F.lit(0).alias("side"), "id", "value").unionAll(
            p.select(F.lit(1).alias("side"), "id", "value")
        )

    state, _ = fixpoint(
        state,
        sweep,
        {},
        lambda turn, m, last: False,
        max_turns=iterations,
        invariants=[en],
    )

    def scores(vocab: DataFrame, side: int) -> DataFrame:
        side_state = state.where(F.col("side") == side)
        return sorted_scores(
            vocab.join(side_state, "id", "left").select(
                "name", F.coalesce("value", F.lit(0.0)).alias("score")
            )
        )

    return BiRankResult(scores(sv, 0), scores(dv, 1), iterations)
