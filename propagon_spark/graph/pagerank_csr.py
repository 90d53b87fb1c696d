"""CSR-blocked PageRank kernel (the north-star fast path).

Runs the power iteration on the shared edge-block store
(:mod:`propagon_spark.plans.blocks`): the canonical (src, dst) pairs are
bucketed once by ``dst % nblocks`` into worker-written shard files, the
rank vector stays on the driver, and each iteration is one store round —
broadcast ``p·inv_out``, a vectorized ``np.bincount`` per bucket over its
mmapped shard columns (:func:`_spmv`), and the buckets' dense float64
buffers assembled into the gathered vector. No join and no shuffle
anywhere in the fit; the block layout, caching, cluster-safety (shared
mount probe, portable Parquet path) and per-round costs are documented
in the store module.

This is the right physical strategy while the vertex state fits the
driver/executor memory (8 bytes/vertex: ~80 MB at 10^7). Beyond
``csr_max_vertices`` (default :data:`~propagon_spark.plans.blocks.
DRIVER_STATE_MAX_VERTICES`) the caller falls back to the pure-dataflow
join kernel in pagerank.py, which has no such cap. Driver-side numpy
updates also make score sums bit-deterministic at any parallelism (fixed
summation order), strictly stronger than the 1e-6 allclose contract.

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
from pyspark.sql import functions as F

from propagon_spark.errors import NumericError
from propagon_spark.graph.core import Graph, sorted_scores
from propagon_spark.plans import blocks


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
    edges: DataFrame,
    damping: float,
    sink: str,
    seeds: dict[str, float] | None,
    tol: float | None,
    iterations: int,
    max_iterations: int,
    checkpoint_interval: int,
    ckpt,
    start_iter: int,
    init_ranks: pd.DataFrame | None,
    metrics: list[dict],
    logger,
    prog=None,
):
    """Run the CSR power iteration. ``edges`` is the canonicalized
    (dedup'd, sink-rewritten), persisted id-typed edge frame. Returns
    (rank_vector, iterations, converged, metrics, timings)."""
    spark = g.spark
    n = g.num_vertices
    t_setup = time.monotonic()

    # the block write is the first job over the persisted canonical
    # frame, so it materializes it. Blocks hold ONLY (src, dst): the
    # inverse out-degree is folded into the broadcast on the DRIVER
    # (p·inv_out is n multiplies), so the build needs no join and every
    # iteration streams a third of the bytes.
    with blocks.build(edges, n) as store:
        t_blocks = time.monotonic()

        # driver-held vertex state --------------------------------------
        if seeds is None:
            v = np.full(n, 1.0 / n)
        else:
            total = float(sum(seeds.values()))
            v = np.zeros(n)
            seed_rows = (
                spark.createDataFrame(
                    [(str(k),) for k in seeds], "name string"
                )
                .join(g.vocab, "name")
                .select("name", "id")
                .collect()
            )
            id_of = {r["name"]: r["id"] for r in seed_rows}
            for name, w in seeds.items():
                v[id_of[str(name)]] = float(w) / total

        # out-degree vector (one small collect): inv_out folds the
        # division into the broadcast, and zero-outdegree rows ARE the
        # sinks — no separate anti-join pass
        odf = edges.groupBy("src").agg(F.count("*").alias("outdeg")).toPandas()
        outdeg_vec = np.zeros(n)
        outdeg_vec[odf["src"].to_numpy()] = odf["outdeg"].to_numpy()
        inv_out = np.divide(
            1.0, outdeg_vec, out=np.zeros(n), where=outdeg_vec > 0
        )
        sink_ids = np.nonzero(outdeg_vec == 0)[0].astype("int64")

        if init_ranks is not None:
            p = np.zeros(n)
            p[init_ranks["id"].to_numpy()] = init_ranks["rank"].to_numpy()
        else:
            p = v.copy()

        total_iters = iterations if tol is None else max_iterations
        converged = False
        it = start_iter
        # per-phase wall time: where an N→4N scaling run spends its
        # seconds (setup = canonicalize+block write, bcast/gather =
        # per-iteration distributed work, update = serial driver numpy)
        timings = {
            "kernel": "csr",
            "nblocks": store.nblocks,
            "edge_rows": store.edge_rows,
            "setup_s": time.monotonic() - t_setup,
            "setup_dedup_s": store.count_s,
            "setup_blocks_s": store.build_s - store.count_s,
            "setup_state_s": time.monotonic() - t_blocks,
            "update_s": 0.0,
        }

        while it < total_iters:
            t0 = time.monotonic()
            # p·inv_out on the driver (n multiplies) — elementwise
            # identical to the join kernel's rank·inv, keeping csr/join
            # parity exact
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
            if prog is not None:
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

        timings["bcast_s"] = store.bcast_s
        timings["gather_s"] = store.gather_s
    return p, it, converged, metrics, timings


def _ranks_df(spark, p: np.ndarray) -> DataFrame:
    return spark.createDataFrame(
        pd.DataFrame({"id": np.arange(len(p), dtype="int64"), "rank": p})
    )


def scores_from_vector(g: Graph, p: np.ndarray) -> DataFrame:
    ranks = _ranks_df(g.spark, p)
    return sorted_scores(
        g.with_names(ranks.select("id", F.col("rank").alias("score"))).select(
            "name", "score"
        )
    ), ranks
