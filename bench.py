"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
``{"metric": "edges_per_sec_pagerank_1e-6", "value": N, "unit": "sec",
"queries": {...}, "sf": ...}``

The headline metric mirrors BASELINE.json: edges-processed/sec for
PageRank iterated to 1e-6 L1 convergence on the co-occurrence graph
derived from lineitem (= |dedup'd directed edges| × iterations / seconds).
Per-query wall times cover the other north-rule operators. Run directly:
``python3 bench.py``.

Noise accounting (round-3 verdict: a ~50% suite regression on untouched
code could not be attributed because no load was recorded): every query
records /proc/loadavg at its start, runs ``PROPAGON_BENCH_REPEATS``
times (default 2, best kept — absorbs one-time JIT/codegen and
neighbor-tenant spikes), and the JSON carries ``loadavg_at_start``,
per-query ``loadavg`` and the full per-run times under ``query_runs``.
``graph_build`` stays single-run by design: a repeat would rebuild over
a warm page cache and re-persist, measuring neither a cold build nor a
cached read.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from propagon_spark.session import get_spark  # noqa: E402


def _loadavg() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def _jvm_gc_ms(spark) -> int:
    """Cumulative JVM GC milliseconds (all collectors) — per-repeat
    deltas attribute slow repeats to GC pressure vs neighbor load
    (round-4 verdict item 7: the 7.8s→17.8s connected_components
    repeat had no load signature, so loadavg alone can't explain it)."""
    try:
        beans = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        return int(sum(b.getCollectionTime() for b in beans))
    except Exception:
        return -1


def _spill_bytes(spark) -> int:
    """Cumulative shuffle spill (memory+disk) across completed stages,
    from the local UI REST API. Retained-stage eviction (default 1000)
    can undercount very long sessions; deltas within one bench run stay
    well inside the window."""
    try:
        import urllib.request

        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=COMPLETE",
            timeout=5,
        ) as r:
            stages = json.load(r)
        return int(
            sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                for s in stages
            )
        )
    except Exception:
        return -1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeats = int(os.environ.get("PROPAGON_BENCH_REPEATS", "2"))
    load_start = _loadavg()
    spark = get_spark(
        app_name="propagon-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        # engine default is UI-off; the bench enables it for the REST
        # stage-metrics endpoint behind _spill_bytes (negligible cost,
        # and only in this process — the scaling legs stay UI-off)
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from propagon_spark.graph.core import Graph
    from propagon_spark.graph.components import connected_components
    from propagon_spark.graph.degree import degree
    from propagon_spark.graph.lpa import label_propagation
    from propagon_spark.graph.pagerank import pagerank
    from propagon_spark.graph.triangles import triangle_total
    from propagon_spark.sources.tpch_graph import cocommit_edges
    from propagon_spark.functions.dedup import exact_duplicates, minhash_near_duplicates
    from propagon_spark.functions.similarity import lsh_cosine_topk

    queries: dict[str, float] = {}
    query_runs: dict[str, list[float]] = {}
    query_run_detail: dict[str, list[dict]] = {}
    query_load: dict[str, float] = {}
    t_all = time.monotonic()

    def timed(name: str, fn, reps: int = repeats):
        """Best-of-``reps`` runs of ``fn``; returns the best run's value.
        Each repeat records wall time plus loadavg / JVM-GC-delta /
        spill-delta so a slow repeat is attributable (neighbor load vs
        GC pressure vs spill) instead of unexplained telemetry."""
        query_load[name] = _loadavg()
        best_t, best_v, runs, detail = None, None, [], []
        for _ in range(max(1, reps)):
            gc0, sp0 = _jvm_gc_ms(spark), _spill_bytes(spark)
            t0 = time.monotonic()
            v = fn()
            dt = time.monotonic() - t0
            gc1, sp1 = _jvm_gc_ms(spark), _spill_bytes(spark)
            runs.append(round(dt, 3))
            detail.append(
                {
                    "seconds": round(dt, 3),
                    "loadavg": _loadavg(),
                    "gc_ms": gc1 - gc0 if gc0 >= 0 and gc1 >= 0 else None,
                    "spilled_bytes": sp1 - sp0 if sp0 >= 0 and sp1 >= 0 else None,
                }
            )
            if best_t is None or dt < best_t:
                best_t, best_v = dt, v
        queries[name] = best_t
        query_runs[name] = runs
        query_run_detail[name] = detail
        return best_v

    # ---- graph construction (shared; single-run, see module note) -----
    def build():
        edges = cocommit_edges(spark, sf_dir, symmetric=True)
        return edges, Graph.from_edges(edges, weight="weight")

    edges, g = timed("graph_build", build, reps=1)
    n_edges = g.num_edge_rows

    def fresh(fn):
        """``fn`` on a Graph that shares ``g``'s cached edges but none of
        its stores or derived frames, released after the call: a Graph
        builds each of them once, so every repeat pays its own build."""
        def run():
            h = dataclasses.replace(g, _owned={})
            try:
                return fn(h)
            finally:
                h.unpersist()
        return run

    # ---- headline: pagerank to 1e-6 -----------------------------------
    res = timed(
        "pagerank_1e6",
        fresh(lambda h: _run_pagerank(pagerank, h)),
    )
    pr_secs = queries["pagerank_1e6"]
    # dedup'd directed edge count actually processed per iteration
    dedup_edges = edges.select("src", "dst").distinct().count()
    edges_per_sec = dedup_edges * res.iterations / pr_secs

    timed("degree_in", lambda: degree(g, "in").count())
    timed("connected_components", lambda: connected_components(g).count())
    timed("lpa_5rounds", fresh(lambda h: label_propagation(h, max_rounds=5).count()))
    timed("triangle_total", fresh(triangle_total))

    # ---- documents / embeddings ---------------------------------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed("dedup_exact", lambda: exact_duplicates(docs).count())
    timed(
        "minhash_neardup",
        lambda: minhash_near_duplicates(docs, threshold=0.5).count(),
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    timed("lsh_ann_topk", lambda: lsh_cosine_topk(emb, k=10).count())

    # comparable-suite total STOPS here: the recall harnesses below run
    # O(n²) brute-force oracles by design and would otherwise read as a
    # regression in round-over-round totals (round-2 verdict). Totals are
    # the sum of best-of-N query times (like-for-like across rounds);
    # wall_seconds is the actual elapsed time including repeats.
    total = sum(queries.values())
    wall = time.monotonic() - t_all

    # recall@10 of the LSH path vs the brute-force oracle on a bounded
    # sample (the oracle is O(n²)); 4 planes × 32 tables is the
    # near-uniform-corpus config (see similarity.lsh_cosine_topk notes)
    from propagon_spark.functions.similarity import ann_recall_at_k

    eval_queries: dict[str, float] = {}
    t0 = time.monotonic()
    recall = ann_recall_at_k(emb.limit(1000), k=10, num_planes=4, num_tables=32)
    eval_queries["ann_recall_eval"] = time.monotonic() - t0

    # recall@10 of the IVF path at a production probe ratio
    # (nprobe/n_cells = 1/2 here — the synthetic embeddings are
    # near-uniform, the hardest case for a cell quantizer)
    t0 = time.monotonic()
    ivf_recall = ann_recall_at_k(
        emb.limit(1000), k=10, method="ivf",
        n_cells=16, nprobe=8, sample_rows=1000,
    )
    eval_queries["ivf_recall_eval"] = time.monotonic() - t0

    # realized recall/precision of the banded MinHash and block-bucketed
    # SimHash near-dup paths vs the exact n-gram Jaccard oracle on a
    # bounded sample (round-3 verdict item 5)
    from propagon_spark.functions.dedup import neardup_quality_eval

    t0 = time.monotonic()
    ndq = neardup_quality_eval(docs.limit(1000), threshold=0.5)
    eval_queries["neardup_quality_eval"] = time.monotonic() - t0

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                # headline (metric, value, unit) IS the throughput metric;
                # suite wall-clock lives under total_seconds
                "metric": "edges_per_sec_pagerank_1e-6",
                "value": round(edges_per_sec),
                "unit": "edges/sec",
                "total_seconds": round(total, 3),
                "wall_seconds": round(wall, 3),
                "repeats": repeats,
                "loadavg_at_start": load_start,
                "queries": {k: round(v, 3) for k, v in queries.items()},
                "query_runs": query_runs,
                "query_run_detail": query_run_detail,
                "query_loadavg": query_load,
                # measurement harnesses (run their own oracles) — kept out
                # of queries/total_seconds so rounds compare like-for-like
                "eval_queries": {
                    k: round(v, 3) for k, v in eval_queries.items()
                },
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "edges_per_sec": round(edges_per_sec),
                "pagerank_timings": {
                    k: (round(v, 3) if isinstance(v, float) else v)
                    for k, v in res.timings.items()
                },
                "pagerank_iterations": res.iterations,
                "pagerank_converged": res.converged,
                "graph_edges": n_edges,
                "dedup_directed_edges": dedup_edges,
                "ann_recall_at_10": round(recall["recall_at_k"], 4),
                "ann_rescore_mismatches": recall["rescore_mismatches"],
                "ivf_recall_at_10": round(ivf_recall["recall_at_k"], 4),
                "ivf_rescore_mismatches": ivf_recall["rescore_mismatches"],
                "minhash_recall": round(ndq["minhash_recall"], 4),
                "minhash_precision": round(ndq["minhash_precision"], 4),
                "simhash_recall": round(ndq["simhash_recall"], 4),
                "simhash_precision": round(ndq["simhash_precision"], 4),
                "neardup_true_pairs": ndq["true_pairs"],
                "cpus": cpus,
            }
        )
    )
    spark.stop()


def _run_pagerank(pagerank, g):
    res = pagerank(g, damping=0.85, sink="uniform", tol=1e-6, max_iterations=100)
    res.scores.count()
    return res


if __name__ == "__main__":
    main()
