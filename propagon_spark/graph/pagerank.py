"""PageRank / personalized PageRank — the flagship kernel.

Re-creates the exact semantics of
``/root/reference/crates/propagon/src/algos/pagerank.rs`` (params 63-83,
sink policies 31-46/147-218, teleport 51-59/106-131, update rule 175-235)
as a power iteration with two kernels. Both run their power steps on
``plans.iterate.fixpoint``, one step per turn, under one stop rule, one
metrics row and one checkpoint cadence; only the setup and the
emission differ.

**CSR** (the default up to ``plans.blocks.DRIVER_STATE_MAX_VERTICES``
vertices, 8 bytes each): the rank vector is a driver state, and a step
is one round of ``A^T·(p·inv_out)`` (:func:`_spmv`, an ``np.bincount``)
on the Graph's ``"out"`` edge-block store (``"out_reverse"`` for
``sink="reverse"``; built once per Graph, its ``src_degree`` the
out-degrees), then the sink term and update in numpy. At most
``plans.blocks.DRIVER_STORE_MAX_EDGE_ROWS`` edge rows the store is held
on the driver and a fit runs no Spark job; above that a round is one
Python-worker job (``plans/blocks.py``). No join or shuffle anywhere,
and the driver's fixed summation order makes the scores
bit-deterministic at any parallelism. ``Graph.emit`` names and sorts
them on the driver.

**Join** (``impl="join"``): pure dataflow, with no vertex cap:

- **scatter**: join ranks to the dedup'd edge frame on ``src``
  (both sides hash-partitioned on the key → no per-iteration re-shuffle of
  the big edge side),
- **gather**: ``groupBy(dst).sum`` — partial+final hash aggregation, the
  one unavoidable shuffle per iteration,
- **normalize/update**: one join of the state ``(id, v, is_sink, rank)``
  with the gathered frame, the sink mass a driver literal (observed on
  the job that materialized the state) + a projection.

A join step is one materializing job, on which the L1 delta, the mass
and the next sink mass are observed. The loop runs under the session's
conf (AQE on by default), so its skew-join handling backs up the hub
salting below.

Reference semantics reproduced exactly by both kernels (parity
fixtures in tests; csr/join equality pinned by the ``impl``-parametrized
cases):
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
per-iteration metrics, checkpoint/resume mid-convergence (saved from
``fixpoint``'s per-turn ``save`` hook), lineage truncation via
localCheckpoint, and explicit salting of the join kernel's scatter join
for high-out-degree hubs (AQE skew join as backstop).
"""

from __future__ import annotations

import logging
import math
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from propagon_spark.canon import dedup_edges, reverse_sinks
from propagon_spark.errors import InvalidParameterError, NumericError
from propagon_spark.graph.core import Graph, sorted_scores
from propagon_spark.plans import blocks
from propagon_spark.plans.checkpoint import CheckpointManager
from propagon_spark.plans.deferred import DeferredFrame
from propagon_spark.plans.iterate import fixpoint, materialize
from propagon_spark.progress import as_progress

logger = logging.getLogger("propagon_spark.pagerank")

_SINKS = ("none", "uniform", "all", "reverse")

# Hub salting of the join kernel's scatter join: a source with at least
# _HUB_MIN_OUT_DEGREE dedup'd out-edges has them spread over _HUB_SALTS
# join keys.
_HUB_MIN_OUT_DEGREE = 1_000_000
_HUB_SALTS = 16

# Join-kernel gather layout (see _join_kernel()): from this many vertices on,
# the gather runs as an explicit dst repartition over about
# _KEYS_PER_TASK vertex keys per task.
_REPART_MIN_VERTICES = 2_000_000
_KEYS_PER_TASK = 100_000


@dataclass
class PageRankResult:
    scores: DataFrame  # (name, score) sorted desc, name asc
    #: (id, rank); the CSR kernel's is built on its first read
    ranks: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    #: per-phase wall-clock breakdown (kernel, setup_s, per-iteration
    #: phase sums) — the evidence trail for the N→4N scaling criterion
    timings: dict = field(default_factory=dict)


def _teleport(g: Graph, seeds: dict[str, float]) -> tuple[np.ndarray, list[float]]:
    """Validate ``seeds`` (``pagerank.rs:106-131``: non-empty, weights
    positive and finite, names must exist in the graph) and return their
    ids and normalized weights in ``seeds`` order: the teleport of both
    kernels. Names resolve against the driver-held names with no Spark
    job; above the bound, with one lookup join."""
    if len(seeds) == 0:
        raise InvalidParameterError("seed list must not be empty")
    for name, w in seeds.items():
        if not (isinstance(w, (int, float)) and math.isfinite(w) and w > 0):
            raise InvalidParameterError(
                f"seed weight for {name!r} must be positive and finite, got {w!r}"
            )
    keys = [str(k) for k in seeds]
    if len(set(keys)) < len(keys):
        same = sorted({repr(k) for k in seeds if keys.count(str(k)) > 1})
        raise InvalidParameterError(f"seed keys {same} name the same vertex")
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
    total = float(sum(seeds.values()))
    return (np.array([known[k] for k in keys], dtype=np.int64),
            [float(w) / total for w in seeds.values()])


def _spmv(pdiv: np.ndarray, bucket: list, nlocal: int) -> np.ndarray:
    """Store kernel: one bucket's share of ``A^T·pdiv`` (``pdiv`` =
    p·inv_out, the division pre-folded on the driver). An
    order-insensitive scatter-add, so shards add up in any order."""
    acc = np.zeros(nlocal)
    for src, dstl in bucket:
        if len(dstl):
            acc += np.bincount(dstl, weights=pdiv[src], minlength=nlocal)
    return acc


def _ranks(spark: SparkSession, state) -> DataFrame:
    """``(id, rank)`` of a kernel state: the join kernel's frame or the
    CSR kernel's driver vector, whose frame is deferred, built on its
    first read."""
    if isinstance(state, DataFrame):
        return state.select("id", "rank")
    return DeferredFrame(spark, lambda: spark.createDataFrame(
        pd.DataFrame({"id": np.arange(len(state), dtype="int64"), "rank": state})
    ))


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
    ``checkpoint_interval`` (≥ 1) iterations; ``resume=True`` continues from the
    newest durable checkpoint of the same run.

    ``impl``: ``"auto"`` picks the CSR kernel (see the module docstring)
    while ``num_vertices`` is at most ``plans.blocks.DRIVER_STATE_MAX_VERTICES``
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
    if checkpoint_interval < 1:
        raise InvalidParameterError(
            f"checkpoint_interval must be at least 1, got {checkpoint_interval}")
    prog = as_progress(progress)
    if impl not in ("auto", "csr", "join"):
        raise InvalidParameterError(f"impl must be auto|csr|join, got {impl!r}")

    spark = g.spark
    use_csr = impl == "csr" or (
        impl == "auto" and g.num_vertices <= blocks.DRIVER_STATE_MAX_VERTICES)
    teleport = None if seeds is None else _teleport(g, seeds)  # None: uniform

    # ---- init / resume -------------------------------------------------
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

    t_setup = time.monotonic()
    # the stats observed on the last materialized state: a join step
    # reads its sink mass here
    observed: dict = {}
    init, step, stats, timings, close = (
        _csr_kernel(g, damping, sink, teleport, state) if use_csr
        else _join_kernel(g, damping, sink, teleport, state, observed))
    kernel = timings["kernel"]
    converged = False
    t_loop = t_turn = time.monotonic()
    timings["setup_s"] = t_loop - t_setup

    def settled(turn: int, m: dict, _last) -> bool:
        nonlocal converged
        l1, mass = m["l1"], m["mass"]
        if not (math.isfinite(mass) and math.isfinite(l1)):
            raise NumericError(
                f"pagerank diverged at iteration {start_iter + turn}: mass={mass}"
            )
        observed.update(m)
        converged = tol is not None and l1 < tol
        return converged

    def row(turn: int, m: dict) -> dict:
        nonlocal t_turn
        now = time.monotonic()
        metrics.append({
            "iteration": start_iter + turn,
            "steps": 1,
            "l1_delta": m["l1"],
            "mass": m["mass"],
            "seconds": now - t_turn,
            "kernel": kernel,
        })
        t_turn = now
        logger.info("pagerank[%s] iter=%d l1=%.3e mass=%.6f %.2fs", kernel,
                    start_iter + turn, m["l1"], m["mass"], metrics[-1]["seconds"])
        return metrics[-1]

    def save(turn: int, cur) -> None:
        it = start_iter + turn
        if it % checkpoint_interval == 0:
            ckpt.save(it, _ranks(spark, cur), metrics)

    try:
        final, turns = fixpoint(
            init,
            step,
            stats,
            settled,
            max_turns=total_iters - start_iter,
            progress=prog,
            phase="pagerank",
            row=row,
            save=save if ckpt is not None else None,
        )
    finally:
        close()
    timings["iterate_s"] = time.monotonic() - t_loop

    ranks = _ranks(spark, final)
    if use_csr:
        scores = g.emit(
            "score", final, [("score", "descending"), ("name", "ascending")]
        ).select("name", "score")
    else:
        scores = sorted_scores(
            g.with_names(ranks.select("id", F.col("rank").alias("score")))
            .select("name", "score")
        )
    return PageRankResult(
        scores=scores,
        ranks=ranks,
        iterations=start_iter + turns,
        converged=converged if tol is not None else True,
        metrics=metrics,
        timings=timings,
    )


def _csr_kernel(g: Graph, damping: float, sink: str, teleport,
                state: DataFrame | None) -> tuple:
    """Set up the CSR power step on the Graph's edge-block store (module
    docstring), from ``state`` (resumed ``(id, rank)``) or the teleport
    vector. Returns ``fixpoint``'s initial state, step and stats (none:
    a driver state), the timings, and ``close`` for when the loop ends,
    however it ends."""
    n = g.num_vertices
    # Blocks hold ONLY (src, dst): the inverse out-degree is folded into
    # the broadcast on the DRIVER (p·inv_out is n multiplies), so every
    # iteration streams a third of the bytes.
    store = g.store("out_reverse" if sink == "reverse" else "out")
    bcast0, gather0 = store.bcast_s, store.gather_s
    if teleport is None:
        v = np.full(n, 1.0 / n)
    else:
        v = np.zeros(n)
        v[teleport[0]] = teleport[1]
    # zero-outdegree rows ARE the sinks — no separate anti-join pass
    outdeg = store.src_degree.astype(np.float64)
    inv_out = np.divide(1.0, outdeg, out=np.zeros(n), where=outdeg > 0)
    sink_ids = np.nonzero(outdeg == 0)[0].astype("int64")
    if state is None:
        p = v.copy()
    else:
        init = state.select("id", "rank").toPandas()
        p = np.zeros(n)
        p[init["id"].to_numpy()] = init["rank"].to_numpy()

    def step(p: np.ndarray) -> tuple[np.ndarray, dict]:
        # p·inv_out on the driver (n multiplies) — elementwise identical
        # to the join kernel's rank·inv, keeping csr/join parity exact
        gathered = store.gather(_spmv, p * inv_out, np.float64)
        s_mass = float(p[sink_ids].sum()) if len(sink_ids) else 0.0
        if sink == "uniform":
            gathered += s_mass * v
        elif sink == "all" and n > 1:
            term = np.full(n, s_mass)
            term[sink_ids] -= p[sink_ids]
            gathered += term / (n - 1)
        new_p = damping * gathered + (1.0 - damping) * v
        return new_p, {"l1": float(np.abs(new_p - p).sum()),
                       "mass": float(new_p.sum())}

    # bcast/gather: the store rounds' wall time (bcast 0 on a
    # driver-held store)
    timings = {"kernel": "csr", "nblocks": store.nblocks,
               "edge_rows": store.edge_rows}

    def close() -> None:
        timings["bcast_s"] = store.bcast_s - bcast0
        timings["gather_s"] = store.gather_s - gather0

    return p, step, {}, timings, close


def _join_kernel(g: Graph, damping: float, sink: str, teleport,
                 state: DataFrame | None, observed: dict) -> tuple:
    """Set up the join power step (module docstring) as
    :func:`_csr_kernel` does: a persisted scatter frame and an ``(id, v,
    is_sink, rank)`` state. A step reads the sink mass ``observed`` on
    the job that materialized its input."""
    spark, n = g.spark, g.num_vertices
    nparts = g.edges.rdd.getNumPartitions()

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
    # the canonical form of Graph.store("out" / "out_reverse"): g.edges
    # is hash-partitioned by src, which already satisfies the (src, dst)
    # distinct, so the dedup and the out-degree aggregate below run
    # with no exchange of the edge data. Persisted: the setup passes
    # that follow (out-degrees, scatter build, sink flags) would
    # otherwise each re-run the distinct.
    edges = dedup_edges(g.edges)
    if sink == "reverse":
        edges = reverse_sinks(edges)
    edges = edges.persist(blocks.STORAGE)

    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # scatter frame: (src, dst, inv) — inverse out-degree folded in so the
    # per-iteration join multiplies instead of dividing after a second join
    scatter = edges.join(outdeg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("inv")
    )

    # hub salting: split the scatter join key for very-high-out-degree
    # sources so a single hub's edges don't land in one join task
    hub_ids = [
        r["src"]
        for r in outdeg.where(F.col("outdeg") >= _HUB_MIN_OUT_DEGREE)
        .select("src")
        .collect()
    ]
    salted = len(hub_ids) > 0
    if salted:
        is_hub = F.col("src").isin(hub_ids)
        scatter = scatter.withColumn(
            "salt",
            F.when(is_hub, F.pmod(F.hash("dst"), F.lit(_HUB_SALTS)))
            .otherwise(F.lit(0)),
        ).repartition(loop_nparts, "src", "salt")
        salt_df = spark.range(_HUB_SALTS).select(F.col("id").cast("int").alias("salt"))
    else:
        # no exchange where edges already has this layout (not reversed,
        # loop_nparts == nparts)
        scatter = scatter.repartition(loop_nparts, "src")
    scatter = scatter.persist(blocks.STORAGE)
    # materialize the persisted scatter inside "setup"; row count = the
    # canonicalized edges actually processed per iteration (scaling harness
    # reads it from timings instead of re-running the distinct)
    n_scatter = scatter.count()

    # the state (id, v, is_sink, rank): the teleport weight and sink flag
    # ride along, so a step's update is one join of the state with its
    # gathered frame. The pooled sink mass S = Σ rank·[is_sink] of every
    # state is observed on the job that materializes it: the initial (or
    # resumed) ranks here, which also count the sinks, then every turn.
    sink_mass = F.sum(F.when(F.col("is_sink"), F.col("rank")).otherwise(0.0))
    if teleport is None:
        tele = g.vocab.select("id", F.lit(1.0 / n).alias("v"))
    else:
        seed_df = spark.createDataFrame(
            list(zip(teleport[0].tolist(), teleport[1])), "id long, v double")
        tele = g.vocab.select("id").join(seed_df, "id", "left").select(
            "id", F.coalesce("v", F.lit(0.0)).alias("v"))
    vstat = tele.join(
        outdeg.select(F.col("src").alias("id"), F.lit(False).alias("ns")),
        "id",
        "left",
    ).select("id", "v", F.coalesce(F.col("ns"), F.lit(True)).alias("is_sink"))
    if state is not None:
        init = vstat.join(state.select("id", "rank"), "id")
    else:
        # init = teleport vector (pagerank.rs:170-173)
        init = vstat.withColumn("rank", F.col("v"))
    init, m = materialize(
        init,
        {"sinks": F.count(F.when(F.col("is_sink"), 1)), "sink_mass": sink_mass},
        ["id", "v", "is_sink", "rank"],
    )
    # the dedup'd frame is a SETUP intermediate: the loop reads only
    # scatter and the state. Holding it for the whole fit keeps a third
    # edge-scale cache alive — and pins its upstream shuffle files through
    # the cached lineage — which at 591M edges was enough to overflow a
    # 75 GB local-disk budget (round-5 huge run).
    edges.unpersist(blocking=False)
    observed.update(m)
    # sink-free graphs (every vertex has out-edges — e.g. any symmetric
    # graph) make every sink policy IDENTICAL: the pooled sink mass is
    # exactly 0, so uniform/all degenerate to none and reverse rewrites
    # nothing. `reverse` removes sinks by construction
    # (canon.reverse_sinks).
    redistribute = sink in ("uniform", "all") and m["sinks"] > 0

    def step(cur: DataFrame) -> DataFrame:
        """One power step: scatter + gather, then sink redistribution and
        the damping update in one join of ``cur`` with the gathered
        ``(id, m)``; emits the previous rank as ``old``.

        Shuffle-hash joins: the ranks side is a vertex-sized frame, and
        broadcasting it every iteration is a serial driver collect that
        caps scaling; a hash exchange of the small side is parallel and
        the big edge side stays put.

        ``s_mass`` is the pooled sink-rank scalar S of ``cur``, observed
        on the job that materialized it (``observed``, which the caller
        updates each turn), as a plain DRIVER FLOAT folded
        into the plan as a literal. Round 3 derived S in-plan via a
        broadcast 1-row aggregate over the gather subtree — that second
        reference DOUBLES the edge pass per step (Catalyst's
        ReuseExchange does not bridge the broadcast boundary on these
        iterated plans). So the update is a pure single-reference
        projection: literal arithmetic, no broadcast subtree anywhere.
        """
        s_mass = float(observed["sink_mass"])
        r = cur.select(F.col("id").alias("src"), "rank").hint("shuffle_hash")
        if salted:
            r = r.join(F.broadcast(salt_df), F.col("src").isin(hub_ids), "left") \
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
        gathered = msgs.groupBy("id").agg(F.sum("_c").alias("m"))

        if redistribute and sink == "uniform":
            sink_term = F.lit(s_mass) * F.col("v")
        elif redistribute and n > 1:  # all: (S - p_i·[i sink]) / (n-1), pagerank.rs:194-201
            sink_term = (
                F.lit(s_mass) - F.when(F.col("is_sink"), F.col("rank")).otherwise(0.0)
            ) / F.lit(float(n - 1))
        else:  # sink-free graph, non-redistributing policy or one vertex
            sink_term = F.lit(0.0)
        return cur.join(gathered.hint("shuffle_hash"), "id", "left").select(
            "id",
            "v",
            "is_sink",
            F.col("rank").alias("old"),
            (
                F.lit(damping) * (F.coalesce("m", F.lit(0.0)) + sink_term)
                + F.lit(1.0 - damping) * F.col("v")
            ).alias("rank"),
        )

    # One power step per turn, one job each: fixpoint materializes the
    # state and observes the L1 delta, the mass and the next step's S on
    # that job. Chaining steps into one job would save a job's fixed cost
    # per step, but this kernel runs by default only above
    # DRIVER_STATE_MAX_VERTICES, where a step's edge pass dwarfs it.
    timings = {"kernel": "join", "edge_rows": n_scatter,
               "gather_mode": gather_mode, "loop_nparts": loop_nparts}
    stats = {
        "mass": F.sum("rank"),
        "l1": F.sum(F.abs(F.col("rank") - F.col("old"))),
        "sink_mass": sink_mass,
    }
    return init, step, stats, timings, scatter.unpersist
