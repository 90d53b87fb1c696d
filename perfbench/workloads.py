"""The workloads: public engine API calls, one pass at a time, and the
oracle check of every result.

A workload object has ``prepare(spark, tracer)`` (one-time preparation,
counted in ``setup_s``), ``run_pass(spark, tracer)`` (one timed pass; it
returns the collected results), ``check(results)`` (a list of
``(operation, problem or None)``, outside the timing), ``standalone``
(traced runs only) and ``release()``.
Calls are wrapped in tracer spans named ``<layer>.<call>``; in untraced
runs the spans record nothing and no progress hook is passed.
"""

from __future__ import annotations

import os
import time

import numpy as np

import oracle
from spans import dir_bytes

#: L1 distance allowed between a tol=1e-6 PageRank and the exact fixpoint
#: (the stop rule bounds it by tol * d / (1 - d) ~ 5.7e-6)
PR_L1_TOL = 2e-5
#: fixed-iteration results agree up to summation order
EXACT_TOL = 1e-9


def _hook(sp):
    return sp.progress if sp is not None else None


def _scores_problem(rows, names, expected, l1_tol) -> str | None:
    """Check a sorted ``(name, score)`` result against an oracle vector."""
    if len(rows) != names.size:
        return f"{len(rows)} rows, expected {names.size}"
    got_names = np.array([r[0] for r in rows], dtype=str)
    got = np.array([r[1] for r in rows], dtype=np.float64)
    # sorted by score desc, then name asc
    bad = (got[1:] > got[:-1]) | ((got[1:] == got[:-1]) & (got_names[1:] < got_names[:-1]))
    if bad.any():
        return "result not sorted by (score desc, name asc)"
    idx = np.searchsorted(names, got_names)
    if not np.array_equal(names[np.minimum(idx, names.size - 1)], got_names):
        return "vertex names differ from the oracle"
    l1 = float(np.abs(got - expected[idx]).sum())
    if not l1 <= l1_tol:
        return f"L1 distance to oracle {l1:.3e} > {l1_tol:.0e}"
    return None


def _ids_problem(rows, names, col: int, expected) -> str | None:
    """Rows ``(name, id, value...)``: ids must be the order-preserving
    dense ids and ``row[col]`` must equal the oracle value per vertex."""
    if len(rows) != names.size:
        return f"{len(rows)} rows, expected {names.size}"
    ids = np.array([r[1] for r in rows], dtype=np.int64)
    got_names = np.array([r[0] for r in rows], dtype=str)
    if not np.array_equal(names[ids], got_names):
        return "ids are not the order-preserving name ranks"
    got = np.array([r[col] for r in rows], dtype=np.int64)
    wrong = np.count_nonzero(got != expected[ids])
    return f"{wrong} vertices differ from the oracle" if wrong else None


class PagerankCold:
    """load_repo_table -> derive_edges -> Graph.from_edges -> pagerank
    (auto kernel, tol=1e-6, uniform sinks) -> collect the sorted scores."""

    ops = ("pagerank",)
    #: a warm pass on a quiet 4-core host, seconds
    pass_s = 8.0

    def __init__(self, input_dir, orc, stream=None):
        self.repo = os.path.join(input_dir, "repo.parquet")
        self.orc = orc
        #: (batch dir, batch oracles, work dir) of the traced replay
        self.stream = stream

    def prepare(self, spark, tracer) -> None:
        pass

    def run_pass(self, spark, tracer):
        from propagon_spark.graph.core import Graph
        from propagon_spark.graph.pagerank import pagerank
        from propagon_spark.sources.repo_table import derive_edges, load_repo_table

        with tracer.span("graph.core.from_edges", spark):
            edges = derive_edges(load_repo_table(spark, self.repo), symmetric=True)
            g = Graph.from_edges(edges, weight="weight")
        try:
            with tracer.span("graph.pagerank", spark) as sp:
                res = pagerank(g, tol=1e-6, sink="uniform", progress=_hook(sp))
                rows = res.scores.collect()
        finally:
            g.unpersist()
        return {"pagerank": rows}

    def check(self, results):
        return [("pagerank", _scores_problem(results["pagerank"], self.orc["names"], self.orc["pagerank"], PR_L1_TOL))]

    def standalone(self, spark, tracer):
        """Traced runs only: the edge derivation on its own (a count), then
        the micro-batch replay. Returns (checks, per-batch records)."""
        from propagon_spark.sources.repo_table import derive_edges, load_repo_table

        with tracer.span("sources.derive_edges", spark):
            n = derive_edges(load_repo_table(spark, self.repo), symmetric=True).count()
        expected = int(self.orc["derived_rows"])
        checks = [("derive_edges", None if n == expected else f"{n} edges, expected {expected}")]
        batches = refit_replay(spark, tracer, *self.stream)
        checks += [("process_batch", b.pop("problem")) for b in batches]
        return checks, batches

    def release(self) -> None:
        pass


class GraphSuite:
    """The Graph is built once in ``prepare``; each pass runs k-core and
    collects its result. HITS, components, LPA, triangles and the
    join-kernel PageRank run once per traced run."""

    ops = ("kcore",)
    #: a warm pass on a quiet 4-core host, seconds
    pass_s = 6.0

    def __init__(self, input_dir, orc):
        self.repo = os.path.join(input_dir, "repo.parquet")
        self.orc = orc
        self.g = None

    def prepare(self, spark, tracer) -> None:
        from propagon_spark.graph.core import Graph
        from propagon_spark.sources.repo_table import derive_edges, load_repo_table

        with tracer.span("graph.core.from_edges", spark):
            edges = derive_edges(load_repo_table(spark, self.repo), symmetric=True)
            self.g = Graph.from_edges(edges, weight="weight")

    def run_pass(self, spark, tracer):
        from propagon_spark.graph.kcore import kcore

        with tracer.span("graph.kcore", spark):
            kc = kcore(self.g).collect()
        return {"kcore": kc}

    def check(self, results):
        return [("kcore", _ids_problem(results["kcore"], self.orc["names"], 2, self.orc["kcore"]))]

    def standalone(self, spark, tracer):
        """Traced runs only: the kernels kept out of the timed pass."""
        from propagon_spark.graph.components import connected_components
        from propagon_spark.graph.hits import hits
        from propagon_spark.graph.lpa import label_propagation
        from propagon_spark.graph.pagerank import pagerank
        from propagon_spark.graph.triangles import triangle_count

        g, o, names = self.g, self.orc, self.orc["names"]
        out = []
        with tracer.span("graph.hits", spark) as sp:
            res = hits(g, iterations=oracle.HITS_ITERATIONS, tolerance=0.0, progress=_hook(sp))
            auth, hubs = res.authorities.collect(), res.hubs.collect()
        out.append(("hits", _scores_problem(auth, names, o["hits_a"], EXACT_TOL)
                    or _scores_problem(hubs, names, o["hits_h"], EXACT_TOL)))
        with tracer.span("graph.components", spark) as sp:
            rows = connected_components(g, progress=_hook(sp)).collect()
        out.append(("components", _ids_problem(rows, names, 2, o["components"])))
        with tracer.span("graph.lpa", spark):
            rows = label_propagation(g, max_rounds=oracle.LPA_ROUNDS).collect()
        out.append(("lpa", _ids_problem(rows, names, 2, o["lpa"])))
        with tracer.span("graph.triangles", spark):
            rows = triangle_count(g).collect()
        out.append(("triangles", _ids_problem(rows, names, 2, o["triangles"])))
        with tracer.span("graph.pagerank", spark) as sp:
            res = pagerank(g, impl="join", iterations=oracle.JOIN_ITERATIONS, progress=_hook(sp))
            rows = res.scores.collect()
        out.append(("pagerank", _scores_problem(rows, names, o["pagerank"], EXACT_TOL)))
        return out, []

    def release(self) -> None:
        if self.g is not None:
            self.g.unpersist()
            self.g = None


def refit_replay(spark, tracer, batch_dir, orc, work_dir):
    """Replay the micro-batches through StreamingPageRankRefit; one dict
    per batch: seconds, checkpoint bytes and files written, oracle problem."""
    from propagon_spark.streaming.incremental import StreamingPageRankRefit

    refit = StreamingPageRankRefit(spark, work_dir, tol=1e-6, sink="uniform")
    batches = sorted(f for f in os.listdir(batch_dir) if f.startswith("batch_"))
    out = []
    for b, f in enumerate(batches):
        df = spark.read.parquet(os.path.join(batch_dir, f))
        ck0 = dir_bytes([refit.ck_root])
        t = time.perf_counter()
        with tracer.span("streaming.process_batch", spark):
            refit.process_batch(df, b)
        dt = time.perf_counter() - t
        ck1 = dir_bytes([refit.ck_root])
        rows = refit.scores.collect()
        out.append({
            "s": dt,
            "ckpt_bytes": ck1[0] - ck0[0],
            "ckpt_files": ck1[1] - ck0[1],
            "problem": _scores_problem(rows, orc[f"names_{b}"], orc[f"pagerank_{b}"], PR_L1_TOL),
        })
    return out
