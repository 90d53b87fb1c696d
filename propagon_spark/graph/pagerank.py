"""PageRank / personalized PageRank — the flagship kernel.

Re-creates the exact semantics of
``/root/reference/crates/propagon/src/algos/pagerank.rs`` (params 63-83,
sink policies 31-46/147-218, teleport 51-59/106-131, update rule 175-235)
as a Spark-first power iteration:

- **scatter**: join ranks to the dedup'd edge frame on ``src``
  (both sides hash-partitioned on the key → no per-iteration re-shuffle of
  the big edge side),
- **gather**: ``groupBy(dst).sum`` — partial+final hash aggregation, the
  one unavoidable shuffle per iteration,
- **normalize/update**: the sink mass as a driver literal (observed on
  the job that materialized the ranks) + a projection.

Reference semantics reproduced exactly (parity fixtures in tests):
- parallel edges deduplicated, weights ignored (``pagerank.rs:6-7,133-141``);
- sink policies ``none | uniform | all | reverse``:
  - ``reverse`` (reference default): each sink's out-edges are replaced by
    its dedup'd in-neighbors — a topology rewrite computed once before
    iterating (``pagerank.rs:147-164``);
  - ``all``: pooled sink mass spread to every *other* node —
    ``(S - p_i·[i is sink])/(n-1)`` (``pagerank.rs:194-201``); ignores
    personalization by design (doc gotcha ``pagerank.rs:15-18``);
  - ``uniform``: sink mass follows the teleport distribution
    (``pagerank.rs:206-218``);
  - ``none``: mass leaks;
- teleport ``uniform`` or seed dict (positive finite weights, normalized,
  unknown names are errors — ``pagerank.rs:106-131``);
- init = teleport vector (``pagerank.rs:170-173``);
- update ``p ← d·(gathered + sink_term) + (1−d)·v``.

Beyond the reference (north rule): convergence mode (L1 delta < tol) with
per-iteration metrics, checkpoint/resume mid-convergence, lineage
truncation via localCheckpoint, and explicit salting of the scatter join
for high-out-degree hubs (AQE skew join as backstop).
"""

from __future__ import annotations

import logging
import math
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.canon import dedup_edges, reverse_sinks
from propagon_spark.errors import InvalidParameterError, NumericError
from propagon_spark.graph.core import Graph, sorted_scores
from propagon_spark.plans import blocks
from propagon_spark.plans.checkpoint import CheckpointManager
from propagon_spark.plans.iterate import materialize, release, truncate_lineage
from propagon_spark.progress import as_progress

logger = logging.getLogger("propagon_spark.pagerank")

_SINKS = ("none", "uniform", "all", "reverse")

# Skew guard for the folded dedup (repartition-by-src-then-distinct):
# probe partition sizes only when a partition above the row floor is even
# possible, and fall back to dedup-then-repartition when one partition
# holds > _SKEW_MAX_RATIO x the mean AND exceeds the floor. Module-level
# so tests can exercise the fallback on small graphs.
_SKEW_PROBE_MIN_ROWS = 5_000_000
_SKEW_MAX_RATIO = 4

# Hub salting of the join kernel's scatter join: a source with at least
# _HUB_MIN_OUT_DEGREE dedup'd out-edges has them spread over _HUB_SALTS
# join keys.
_HUB_MIN_OUT_DEGREE = 1_000_000
_HUB_SALTS = 16

# Join-kernel gather layout (see pagerank()): from this many vertices on,
# the gather runs as an explicit dst repartition over about
# _KEYS_PER_TASK vertex keys per task; a sink-free convergence turn
# chains at most _CHAIN_MAX power steps into one job.
_REPART_MIN_VERTICES = 2_000_000
_KEYS_PER_TASK = 100_000
_CHAIN_MAX = 8


@dataclass
class PageRankResult:
    scores: DataFrame  # (name, score) sorted desc, name asc
    ranks: DataFrame  # (id, rank)
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    #: per-phase wall-clock breakdown (kernel, setup_s, per-iteration
    #: phase sums) — the evidence trail for the N→4N scaling criterion
    timings: dict = field(default_factory=dict)


def _seed_ids(g: Graph, seeds: dict[str, float]) -> np.ndarray:
    """Validate ``seeds`` (``pagerank.rs:106-131``: non-empty, weights
    positive and finite, names must exist in the graph) and return their
    ids in ``seeds`` order. They resolve against the driver-held names
    with no Spark job; above the bound, with one lookup join."""
    if len(seeds) == 0:
        raise InvalidParameterError("seed list must not be empty")
    for name, w in seeds.items():
        if not (isinstance(w, (int, float)) and math.isfinite(w) and w > 0):
            raise InvalidParameterError(
                f"seed weight for {name!r} must be positive and finite, got {w!r}"
            )
    keys = [str(k) for k in seeds]
    names = g.driver_names()
    if names is not None:
        idx = pc.index_in(pa.array(keys, pa.string()), value_set=names)
        known = dict(zip(keys, idx.to_pylist()))
    else:
        seed_df = g.spark.createDataFrame([(k,) for k in keys], "name string")
        known = {r["name"]: r["id"] for r in seed_df.join(g.vocab, "name").collect()}
    if any(known.get(k) is None for k in keys):
        missing = sorted(k for k in seeds if known.get(str(k)) is None)
        raise InvalidParameterError(f"unknown seed name(s): {missing}")
    return np.array([known[k] for k in keys], dtype=np.int64)


def _teleport_frame(g: Graph, seeds: dict[str, float] | None) -> DataFrame:
    """(id, v) teleport distribution; uniform 1/n when seeds is None
    (``seeds`` already checked by :func:`_seed_ids`)."""
    n = g.num_vertices
    if seeds is None:
        return g.vocab.select("id", F.lit(1.0 / n).alias("v"))
    total = float(sum(seeds.values()))
    rows = [(str(k), float(v) / total) for k, v in seeds.items()]
    seed_df = g.spark.createDataFrame(rows, "name string, v double")
    return g.vocab.join(seed_df, "name", "left").select(
        "id", F.coalesce("v", F.lit(0.0)).alias("v")
    )


def pagerank(
    g: Graph,
    damping: float = 0.85,
    iterations: int = 10,
    sink: str = "reverse",
    seeds: dict[str, float] | None = None,
    tol: float | None = None,
    max_iterations: int = 200,
    checkpoint_interval: int = 10,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume: bool = False,
    impl: str = "auto",
    progress=None,
) -> PageRankResult:
    """Fit PageRank. ``tol=None`` → fixed ``iterations`` (reference parity
    mode, default 10); ``tol`` set → iterate to L1 delta < tol (north-rule
    convergence mode, bounded by ``max_iterations``).

    ``checkpoint_dir`` + ``run_id`` enable durable Parquet checkpoints every
    ``checkpoint_interval`` iterations; ``resume=True`` continues from the
    newest durable checkpoint of the same run.

    ``impl``: ``"auto"`` picks the CSR-blocked vectorized kernel
    (pagerank_csr.py on the plans/blocks.py edge-block store — distributed
    edge blocks, broadcast vertex state, no per-iteration shuffle) while
    ``num_vertices`` is at most ``plans.blocks.DRIVER_STATE_MAX_VERTICES``
    (read at call time, the bound of every store kernel), the
    pure-dataflow join kernel beyond; force with ``"csr"`` / ``"join"``.

    ``progress``: a :class:`propagon_spark.progress.Progress` or a bare
    ``callable(phase, metrics_row)`` invoked on the driver after every
    solver turn with the same row appended to ``result.metrics``
    (reference FR-3.5, ``progress.rs:1-30``).
    """
    if sink not in _SINKS:
        raise InvalidParameterError(f"sink must be one of {_SINKS}, got {sink!r}")
    if not (0.0 < damping < 1.0):
        raise InvalidParameterError(f"damping must be in (0,1), got {damping}")
    prog = as_progress(progress)
    if impl not in ("auto", "csr", "join"):
        raise InvalidParameterError(f"impl must be auto|csr|join, got {impl!r}")

    spark = g.spark
    n = g.num_vertices
    use_csr = impl == "csr" or (
        impl == "auto" and n <= blocks.DRIVER_STATE_MAX_VERTICES)
    # validate seeds up front (shared by both kernels)
    seed_ids = None if seeds is None else _seed_ids(g, seeds)

    # ---- init / resume (shared by both kernels) ------------------------
    ckpt: CheckpointManager | None = None
    if checkpoint_dir is not None:
        ckpt = CheckpointManager(spark, checkpoint_dir, run_id or uuid.uuid4().hex)
    metrics: list[dict] = []
    start_iter, state = 0, None
    if resume and ckpt is not None:
        latest = ckpt.latest()
        if latest is not None:
            start_iter, state, metrics = latest
    total_iters = iterations if tol is None else max_iterations

    if use_csr:
        from propagon_spark.graph.pagerank_csr import pagerank_csr

        if seeds is not None:
            total = float(sum(seeds.values()))
            seeds = (seed_ids, [float(w) / total for w in seeds.values()])
        return pagerank_csr(
            g, damping, sink, seeds, tol, total_iters, checkpoint_interval,
            ckpt, start_iter, state, metrics, prog,
        )

    nparts = g.edges.rdd.getNumPartitions()
    t_setup = time.monotonic()

    # ---- one-time setup (loop-invariant, persisted) --------------------
    # Gather plan + loop partition LAYOUT, decided up front from graph
    # shape. Past a few million vertices every per-task hash table in the
    # loop (the shuffle-hash join's ranks build side, the gather
    # aggregate's key map) holds ~n/nparts entries; with the session's
    # width-derived nparts (2·cores) that is millions of entries per
    # task — tens-to-hundreds of MB, so every probe is a DRAM miss and
    # concurrent tasks contend for the memory controller (BENCH/RUNS.md
    # runs #21-22: iterate-phase N→4N efficiency 0.52/0.66 at n = 12M
    # while the cache-resident 1M-vertex input scores 0.899 on the same
    # code). In that regime:
    #   - gather_mode "repart": route the scatter-join output through an
    #     explicit hash repartition on dst — the exchange pipelines off
    #     the join (no map-side agg table) and ships exactly E rows at
    #     every parallelism level (the groupBy partial-agg's output rows
    #     grow with nparts on sparse graphs: distinct (partition, dst)
    #     pairs, modeled 47M @ nparts=4 vs 115M @ 16 on synth-wide);
    #   - loop_nparts pinned by SHAPE, not session width: enough
    #     partitions that a task's table (~_KEYS_PER_TASK entries) stays
    #     cache-resident at any core count, and no task exceeds
    #     ~16M edge rows. More partitions never increase repart-mode
    #     shuffle volume (always exactly E rows), so the max() with the
    #     session width only ever shrinks tables. This is the join-kernel
    #     analogue of the CSR kernel's pinned bucket layout: fix the
    #     per-iteration work independent of cluster size, let the
    #     cluster divide it. At 10^12-edge scale the same rule yields
    #     data-proportional partition counts (the standard cluster
    #     sizing), independent of executor count.
    # Dense/small graphs (n < 2M) keep the map-side-combine groupBy and
    # the session layout — the partial agg there cuts shuffle volume ~14×
    # (synth: E/(P·n) ≈ 14) and its tables are cache-resident anyway.
    gather_mode = "repart" if n >= _REPART_MIN_VERTICES else "agg"
    loop_nparts = nparts
    if gather_mode == "repart":
        loop_nparts = max(
            nparts,
            -(-n // _KEYS_PER_TASK),                   # ceil
            -(-g.num_edge_rows // 16_000_000),
        )
    # Join kernel (no reverse rewrite): fold the dedup INTO the scatter
    # partitioning — repartition by src FIRST, then distinct. A hash
    # partitioning on src satisfies the (src, dst) clustering the dedup
    # aggregate requires, so the frame is deduplicated AND scatter-ready
    # after ONE exchange of the edge data, replacing distinct's
    # (src, dst) exchange plus a separate scatter repartition (verified
    # plan-level: no Exchange between the repartition, the dedup
    # HashAggregate, the out-degree agg, and the scatter join).
    pre_partitioned = sink != "reverse"
    if pre_partitioned:
        # SKEW GUARD: folding dedup into the src repartition removes the
        # partial aggregation that would otherwise collapse duplicate
        # rows BEFORE the exchange, and hash(src) clustering puts a hub's
        # ENTIRE raw edge set into one dedup task (hub salting only
        # protects the downstream scatter join). g.edges is already
        # hash-partitioned by src (core.py), so its partition sizes are a
        # faithful preview of the post-repartition layout: probe them
        # with one cheap partial-agg job over the cached frame and fall
        # back to dedup-then-repartition (balanced (src,dst) exchange
        # with map-side combine, one extra exchange of DEDUP'D rows) when
        # one partition dominates — the power-law-hub regression risk on
        # the common PageRank input.
        # probe only when a partition above the floor is even possible —
        # the count(*) scan over the cached frame is wasted work below it
        if g.num_edge_rows > _SKEW_PROBE_MIN_ROWS:
            psizes = [
                r["cnt"]
                for r in g.edges.groupBy(F.spark_partition_id().alias("_p"))
                .agg(F.count("*").alias("cnt"))
                .collect()
            ]
            pmax = max(psizes, default=0)
            pmean = (sum(psizes) / len(psizes)) if psizes else 0.0
            if pmax > _SKEW_MAX_RATIO * pmean and pmax > _SKEW_PROBE_MIN_ROWS:
                pre_partitioned = False
    if pre_partitioned:
        edges = g.edges.select("src", "dst") \
            .repartition(loop_nparts, "src").distinct()
    else:
        edges = dedup_edges(g.edges)
        if sink == "reverse":
            edges = reverse_sinks(edges)
    # persist the canonicalized frame: the setup passes that follow
    # (out-degrees, scatter build, sink detection) would otherwise each
    # re-run the full-width distinct over the raw edge table
    edges = edges.persist(blocks.STORAGE)

    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # scatter frame: (src, dst, inv) — inverse out-degree folded in so the
    # per-iteration join multiplies instead of dividing after a second join
    scatter_base = edges.join(outdeg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("inv")
    )

    # hub salting: split the scatter join key for very-high-out-degree
    # sources so a single hub's edges don't land in one join task. The
    # persist happens ONCE, after the salting decision — persisting the
    # pre-salt frame and then replacing it would leak the first cache for
    # the whole fit on hub-heavy graphs.
    hub_ids = [
        r["src"]
        for r in outdeg.where(F.col("outdeg") >= _HUB_MIN_OUT_DEGREE)
        .select("src")
        .collect()
    ]
    salted = len(hub_ids) > 0
    if salted:
        hubs = set(hub_ids)
        is_hub = F.col("src").isin(list(hubs))
        scatter = (
            scatter_base.withColumn(
                "salt",
                F.when(
                    is_hub, F.pmod(F.hash("dst"), F.lit(_HUB_SALTS))
                ).otherwise(F.lit(0)),
            )
            .repartition(loop_nparts, "src", "salt")
            .persist(blocks.STORAGE)
        )
        salt_df = spark.range(_HUB_SALTS).select(F.col("id").cast("int").alias("salt"))
    elif pre_partitioned:
        # already hash-partitioned by src (dedup rode the same exchange)
        scatter = scatter_base.persist(blocks.STORAGE)
    else:
        scatter = scatter_base.repartition(loop_nparts, "src").persist(blocks.STORAGE)

    # vertex frame: (id, v, is_sink) — static across iterations
    vstat = (
        _teleport_frame(g, seeds)
        .join(
            outdeg.select(F.col("src").alias("id"), F.lit(False).alias("ns")),
            "id",
            "left",
        )
        .select("id", "v", F.coalesce(F.col("ns"), F.lit(True)).alias("is_sink"))
        .repartition(loop_nparts, "id")
        .persist(blocks.STORAGE)
    )
    # materialize the persisted scatter inside "setup"; row count = the
    # canonicalized edges actually processed per iteration (scaling harness
    # reads it from timings instead of re-running the distinct)
    n_scatter = scatter.count()
    # the dedup'd frame is a SETUP intermediate in the join kernel: the
    # loop reads only scatter/vstat (both just materialized). Holding it
    # for the whole fit keeps a third edge-scale cache alive — and pins
    # its upstream shuffle files through the cached lineage — which at
    # 591M edges was enough to overflow a 75 GB local-disk budget
    # (round-5 huge run). Release it the moment its derived frames exist.
    edges.unpersist(blocking=False)

    # the pooled sink mass S = Σ rank·[is_sink] of every ranks frame is
    # observed on the job that materializes it: the initial (or resumed)
    # ranks here, which also materialize vstat and count its sinks, then
    # every loop turn
    sink_mass = F.sum(F.when(F.col("is_sink"), F.col("rank")).otherwise(0.0))
    if state is not None:
        init = state.select("id", "rank").repartition(loop_nparts, "id") \
            .join(vstat.select("id", "is_sink"), "id")
    else:
        # init = teleport vector (pagerank.rs:170-173)
        init = vstat.select("id", F.col("v").alias("rank"), "is_sink")
    ranks, m = materialize(
        init,
        {"sinks": F.count(F.when(F.col("is_sink"), 1)), "sink_mass": sink_mass},
        ["id", "rank"],
    )
    s_mass = float(m["sink_mass"])
    # sink-free graphs (every vertex has out-edges — e.g. any symmetric
    # graph) make every sink policy IDENTICAL: the pooled sink mass is
    # exactly 0, so uniform/all degenerate to none and reverse rewrites
    # nothing, and the steps chain (below). `reverse` removes sinks by
    # construction (canon.reverse_sinks).
    has_sinks = sink != "reverse" and m["sinks"] > 0
    redistribute = has_sinks and sink in ("uniform", "all")

    def gather_frame(ranks: DataFrame) -> DataFrame:
        """Scatter + gather — the edge-heavy half of one step: (id, m).

        Shuffle-hash joins: the ranks side is a vertex-sized frame, and
        broadcasting it every iteration is a serial driver collect that
        caps scaling; a hash exchange of the small side is parallel and
        the big edge side stays put.
        """
        r = ranks.withColumnRenamed("id", "src").select("src", "rank").hint(
            "shuffle_hash"
        )
        if salted:
            r = r.join(F.broadcast(salt_df), F.col("src").isin(list(hubs)), "left") \
                 .select("src", "rank", F.coalesce("salt", F.lit(0)).alias("salt")) \
                 .hint("shuffle_hash")
            contrib = scatter.join(r, ["src", "salt"])
        else:
            contrib = scatter.join(r, "src")
        msgs = contrib.select(
            F.col("dst").alias("id"),
            (F.col("rank") * F.col("inv")).alias("_c"),
        )
        if gather_mode == "repart":
            # no map-side agg table: the exchange pipelines off the join,
            # and the downstream aggregates are dst-partition-local
            msgs = msgs.repartition(loop_nparts, "id")
        return msgs.groupBy("id").agg(F.sum("_c").alias("m"))

    def update_from(
        gathered: DataFrame,
        carry_old: bool,
        old_ranks: DataFrame | None,
        s_mass: float,
    ) -> DataFrame:
        """Sink redistribution + damping update over one gather result.

        ``s_mass`` is the pooled sink-rank scalar S of the ranks this
        step reads, observed on the job that materialized them, as a
        plain DRIVER FLOAT folded into the plan as a literal. Round 3
        derived S in-plan via a broadcast 1-row aggregate over the
        gather subtree — that second reference DOUBLES the edge pass per
        step (Catalyst's ReuseExchange does not bridge the broadcast
        boundary on these iterated plans), and chaining such steps
        recomputes the gather 2^C times (a 4-step chain measured 47 s vs
        4×2 s single steps at 8 cores / 22M edges). So this update is a
        pure single-reference projection: vertex-sized vstat join,
        literal arithmetic, no broadcast subtree anywhere. With
        redistributing sinks it emits ``is_sink`` for the next S.

        ``carry_old=True`` emits the previous rank as ``old`` (the L1
        delta's input); ``old_ranks`` (the ranks ``gathered`` came from)
        must then be a MATERIALIZED leaf so the second plan reference
        costs a leaf scan, not a recompute. The ``all`` sink needs
        ``old`` for its self-exclusion term regardless
        (pagerank.rs:194-201); it runs one step per job, so its
        ``old_ranks`` is always the turn's materialized ranks.
        """
        joined = vstat.join(gathered.hint("shuffle_hash"), "id", "left")
        need_old = carry_old or (sink == "all" and has_sinks)
        if need_old:
            joined = joined.join(
                old_ranks.select("id", F.col("rank").alias("old")).hint(
                    "shuffle_hash"
                ),
                "id",
            )
        if not redistribute:
            # sink-free graph or non-redistributing policy: S ≡ 0
            sink_term = F.lit(0.0)
        elif sink == "uniform":
            sink_term = F.lit(s_mass) * F.col("v")
        else:  # all: (S - p_i·[i sink]) / (n-1), pagerank.rs:194-201
            sink_term = (
                (
                    F.lit(s_mass)
                    - F.when(F.col("is_sink"), F.col("old")).otherwise(0.0)
                )
                / F.lit(float(n - 1))
                if n > 1
                else F.lit(0.0)
            )

        cols = (
            ["id"]
            + (["old"] if carry_old else [])
            + (["is_sink"] if redistribute else [])
        )
        return joined.select(
            *cols,
            (
                F.lit(damping) * (F.coalesce("m", F.lit(0.0)) + sink_term)
                + F.lit(1.0 - damping) * F.col("v")
            ).alias("rank"),
        )

    # Step scheduling. Each step of the single-reference path (none/
    # reverse, or any policy on a sink-free graph) references the
    # previous iterate exactly once, so steps CHAIN into one Spark job
    # as a linear pipeline (no duplicated subtree anywhere). Convergence
    # turns run the chain as TWO jobs: job A = steps−1 pure chained
    # steps, materialized; job B = one final step whose `old` reference
    # hits job A's materialized LEAF (a second reference to a leaf is a
    # scan, not a recompute — measured: carrying `old` on the last step
    # of a LAZY chain doubled the whole edge pass). The stop test stays
    # the TRUE single-step delta ||p_{t+C} − p_{t+C−1}||₁ (a chain-START
    # delta is unsound: under a negative second eigenvalue consecutive
    # deltas alternate sign and partially cancel, stopping early while
    # the reference's criterion is still above tol).
    #
    # Redistributing sinks (uniform/all on a graph WITH sinks) run one
    # step per job: each step needs the S of its input ranks, which is
    # observed on the job that materializes them.
    #
    # Convergence mode sizes chains ADAPTIVELY: the first two turns run
    # single steps to measure the L1 decay rate, then each turn runs
    # min(chain_max, predicted-steps-to-tol) — amortizing per-job fixed
    # cost (Catalyst planning, scheduling, lineage materialization) while
    # bounding overshoot by the prediction error instead of a fixed C−1.
    chain_max = 1 if redistribute else _CHAIN_MAX
    converged = False
    it = start_iter
    last_ckpt = start_iter
    prev_l1: float | None = None
    rate: float | None = None
    timings = {"kernel": "join", "edge_rows": n_scatter,
               "gather_mode": gather_mode,
               "dedup_plan": "folded" if pre_partitioned else "separate",
               "loop_nparts": loop_nparts,
               "setup_s": time.monotonic() - t_setup, "iterate_s": 0.0,
               "iterate_gather_s": 0.0, "iterate_update_s": 0.0}
    # AQE off for the loop: every chained job re-plans each exchange as a
    # separate adaptive query stage (serial driver work per iteration)
    # and its partition coalescing breaks the pinned nparts partitioning
    # that makes the vstat join exchange-free. Skew is already handled
    # explicitly (hub salting above); AQE returns for the final scores.
    aqe_key = "spark.sql.adaptive.enabled"
    aqe_old = spark.conf.get(aqe_key, "true")
    spark.conf.set(aqe_key, "false")

    prog.start("pagerank", total=total_iters)
    try:
        while it < total_iters:
            t0 = time.monotonic()
            need_delta = tol is not None
            if tol is None:
                steps = min(chain_max, total_iters - it)
            elif prev_l1 is None or rate is None:
                steps = 1  # first two turns calibrate the decay rate
            elif not (0.0 < rate < 1.0):
                steps = chain_max  # not decaying: amortize fixed cost
            else:
                need = math.log(tol / prev_l1) / math.log(rate)
                steps = max(1, min(chain_max, math.ceil(need)))
            steps = min(steps, total_iters - it)

            # the turn's materialized intermediates, released with the
            # superseded ranks once the new ranks are materialized
            spent = [ranks]
            cur = ranks
            pure = steps - 1 if need_delta else steps
            for _ in range(pure):
                cur = update_from(gather_frame(cur), False, cur, s_mass)
            if need_delta:
                if pure > 0:
                    # job A: materialize the pure chain; the final
                    # delta-carrying step then references a LEAF
                    t_g = time.monotonic()
                    cur = truncate_lineage(cur)
                    spent.append(cur)
                    timings["iterate_gather_s"] += time.monotonic() - t_g
                cur = update_from(gather_frame(cur), True, cur, s_mass)

            # materialize + truncate lineage every loop turn — without
            # truncation the logical plan compounds per iteration.
            # Convergence metrics and the next step's S ride along as
            # observed aggregates of the SAME job (CollectMetrics).
            t_u = time.monotonic()
            stats = {"mass": F.sum("rank")}
            if need_delta:
                stats["l1"] = F.sum(F.abs(F.col("rank") - F.col("old")))
            if redistribute:
                stats["sink_mass"] = sink_mass
            new_ranks, agg = materialize(cur, stats, ["id", "rank"])
            l1 = float(agg["l1"]) if need_delta else None
            mass = float(agg["mass"])
            if not math.isfinite(mass) or (
                l1 is not None and not math.isfinite(l1)
            ):
                raise NumericError(
                    f"pagerank diverged at iteration {it}: mass={mass}"
                )
            if redistribute:
                s_mass = float(agg["sink_mass"])
            timings["iterate_update_s"] += time.monotonic() - t_u

            # observed decay rate of the single-step L1 across this turn's
            # `steps` power steps — feeds the next turn's chain prediction
            if l1 is not None and prev_l1 is not None and prev_l1 > 0 and l1 > 0:
                rate = (l1 / prev_l1) ** (1.0 / steps)
            prev_l1 = l1

            ranks = new_ranks
            for frame in spent:
                release(frame)
            it += steps
            metrics.append(
                {
                    "iteration": it,
                    "steps": steps,
                    "l1_delta": l1,
                    "mass": mass,
                    "seconds": time.monotonic() - t0,
                }
            )
            timings["iterate_s"] += metrics[-1]["seconds"]
            prog.iteration("pagerank", metrics[-1])

            logger.info(
                "pagerank iter=%d l1=%s mass=%.6f %.2fs",
                it, f"{l1:.3e}" if l1 is not None else "-", mass,
                metrics[-1]["seconds"],
            )

            # save whenever the iteration counter CROSSES a checkpoint
            # boundary — chained turns advance `it` by up to chain_max, so
            # an exact `it % interval == 0` test would rarely fire
            if ckpt is not None and (
                it // checkpoint_interval > last_ckpt // checkpoint_interval
            ):
                ckpt.save(it, ranks.select("id", "rank"), metrics)
                last_ckpt = it

            if tol is not None and l1 < tol:
                converged = True
                break
    finally:
        spark.conf.set(aqe_key, aqe_old)
        prog.finish()

    scores = sorted_scores(
        g.with_names(ranks.select("id", F.col("rank").alias("score")))
        .select("name", "score")
    )
    scatter.unpersist()
    vstat.unpersist()
    return PageRankResult(
        scores=scores,
        ranks=ranks,
        iterations=it,
        converged=converged if tol is not None else True,
        metrics=metrics,
        timings=timings,
    )

