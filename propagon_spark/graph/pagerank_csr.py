"""CSR-blocked PageRank kernel (the north-star fast path).

Runs the power iteration on the shared edge-block store
(:mod:`propagon_spark.plans.blocks`): the Graph's ``"out"`` store (or
``"out_reverse"`` for ``sink="reverse"``), the canonical (src, dst)
pairs, built on the first CSR fit of a Graph and kept until
``Graph.unpersist()``. Its ``src_degree``, counted at the build, is the
out-degree vector. The rank vector stays on the driver, and each
iteration is one store round of ``A^T·(p·inv_out)``, a vectorized
``np.bincount`` (:func:`_spmv`). For a Graph of at most
``plans.blocks.DRIVER_STORE_MAX_EDGE_ROWS`` edge rows the store is held
on the driver and a round is one call in the driver process, with no
Spark job. Above that the pairs are bucketed by ``dst % nblocks`` into
worker-written shard files, and a round broadcasts ``p·inv_out``, runs
the kernel per bucket over its mmapped shard columns and assembles the
buckets' dense float64 buffers into the gathered vector. No join and no
shuffle anywhere in the fit; the placements, block layout, caching,
cluster-safety (shared mount probe, portable Parquet path) and per-round
costs are documented in the store module.

This is the right physical strategy while the vertex state fits the
driver/executor memory (8 bytes/vertex: ~80 MB at 10^7). Beyond
:data:`~propagon_spark.plans.blocks.DRIVER_STATE_MAX_VERTICES` vertices
(read at call time) ``pagerank(impl="auto")`` falls back to the
pure-dataflow join kernel in pagerank.py, which has no such cap. Driver-side numpy
updates also make score sums bit-deterministic at any parallelism (fixed
summation order), strictly stronger than the 1e-6 allclose contract.

Seed names resolve against the Graph's driver-held names, and the
scores are named and sorted on the driver (``Graph.emit``): a
``LocalRelation``, with no lookup join or vocab join anywhere.

Semantics are identical to pagerank.py (same sink policies / teleport /
init / update rule); csr/join equality is pinned by the parametrized
cases in tests/test_pagerank.py (impl="csr" vs impl="join").
"""

from __future__ import annotations

import math
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from propagon_spark.errors import NumericError
from propagon_spark.graph.core import Graph
from propagon_spark.graph.pagerank import PageRankResult, logger


def _spmv(pdiv: np.ndarray, bucket: list, nlocal: int) -> np.ndarray:
    """Store kernel: one bucket's share of ``A^T·pdiv`` (``pdiv`` =
    p·inv_out, the division pre-folded on the driver). An
    order-insensitive scatter-add, so shards add up in any order."""
    acc = np.zeros(nlocal)
    for src, dstl in bucket:
        if len(dstl):
            acc += np.bincount(dstl, weights=pdiv[src], minlength=nlocal)
    return acc


def pagerank_csr(
    g: Graph,
    damping: float,
    sink: str,
    seeds: tuple[np.ndarray, list[float]] | None,
    tol: float | None,
    total_iters: int,
    checkpoint_interval: int,
    ckpt,
    start_iter: int,
    state: DataFrame | None,
    metrics: list[dict],
    prog,
) -> PageRankResult:
    """Run the CSR power iteration on the Graph's ``"out"`` store
    (``"out_reverse"`` for ``sink="reverse"``), from ``state`` (a
    resumed ``(id, rank)`` checkpoint) or the teleport vector. ``seeds``
    is ``(ids, normalized weights)``, None for a uniform teleport;
    pagerank.py has validated every argument."""
    spark = g.spark
    n = g.num_vertices
    t_setup = time.monotonic()
    # Blocks hold ONLY (src, dst): the inverse out-degree is folded into
    # the broadcast on the DRIVER (p·inv_out is n multiplies), so every
    # iteration streams a third of the bytes.
    store = g.store("out_reverse" if sink == "reverse" else "out")
    t_blocks = time.monotonic()
    bcast0, gather0 = store.bcast_s, store.gather_s

    # driver-held vertex state ------------------------------------------
    if seeds is None:
        v = np.full(n, 1.0 / n)
    else:
        v = np.zeros(n)
        v[seeds[0]] = seeds[1]

    # zero-outdegree rows ARE the sinks — no separate anti-join pass
    outdeg_vec = store.src_degree.astype(np.float64)
    inv_out = np.divide(1.0, outdeg_vec, out=np.zeros(n), where=outdeg_vec > 0)
    sink_ids = np.nonzero(outdeg_vec == 0)[0].astype("int64")

    if state is not None:
        init = state.select("id", "rank").toPandas()
        p = np.zeros(n)
        p[init["id"].to_numpy()] = init["rank"].to_numpy()
    else:
        p = v.copy()

    converged = False
    it = start_iter
    # per-phase wall time: setup = the store build (0 once the Graph
    # holds it) + driver state, bcast/gather = per-iteration store
    # rounds (bcast 0 on a driver-held store), update = serial driver numpy
    timings = {
        "kernel": "csr",
        "nblocks": store.nblocks,
        "edge_rows": store.edge_rows,
        "setup_s": time.monotonic() - t_setup,
        "setup_blocks_s": t_blocks - t_setup,
        "setup_state_s": time.monotonic() - t_blocks,
        "update_s": 0.0,
    }

    prog.start("pagerank", total=total_iters)
    try:
        while it < total_iters:
            t0 = time.monotonic()
            # p·inv_out on the driver (n multiplies) — elementwise identical
            # to the join kernel's rank·inv, keeping csr/join parity exact
            gathered = store.gather(_spmv, p * inv_out, np.float64)
            t_g = time.monotonic()

            s_mass = float(p[sink_ids].sum()) if len(sink_ids) else 0.0
            if sink == "uniform":
                gathered += s_mass * v
            elif sink == "all" and n > 1:
                term = np.full(n, s_mass)
                term[sink_ids] -= p[sink_ids]
                gathered += term / (n - 1)
            new_p = damping * gathered + (1.0 - damping) * v

            l1 = float(np.abs(new_p - p).sum())
            mass = float(new_p.sum())
            if not (math.isfinite(l1) and math.isfinite(mass)):
                raise NumericError(f"pagerank diverged at iteration {it}")
            p = new_p
            it += 1
            timings["update_s"] += time.monotonic() - t_g
            metrics.append(
                {
                    "iteration": it,
                    "steps": 1,
                    "l1_delta": l1,
                    "mass": mass,
                    "seconds": time.monotonic() - t0,
                    "kernel": "csr",
                }
            )
            prog.iteration("pagerank", metrics[-1])
            logger.info(
                "pagerank[csr] iter=%d l1=%.3e mass=%.6f %.2fs",
                it, l1, mass, metrics[-1]["seconds"],
            )

            if ckpt is not None and it % checkpoint_interval == 0:
                ckpt.save(it, _ranks_df(spark, p), metrics)

            if tol is not None and l1 < tol:
                converged = True
                break
    finally:
        prog.finish()
    timings["bcast_s"] = store.bcast_s - bcast0
    timings["gather_s"] = store.gather_s - gather0
    return PageRankResult(
        scores=g.emit("score", p, [("score", "descending"), ("name", "ascending")])
        .select("name", "score"),
        ranks=_ranks_df(spark, p),
        iterations=it,
        converged=converged if tol is not None else True,
        metrics=metrics,
        timings=timings,
    )


def _ranks_df(spark, p: np.ndarray) -> DataFrame:
    return spark.createDataFrame(
        pd.DataFrame({"id": np.arange(len(p), dtype="int64"), "rank": p})
    )

