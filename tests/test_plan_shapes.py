"""Physical-plan shape pins for the kernel's shuffle-economy claims.

The join kernel's docstrings make concrete plan-level claims (the
cached edge frame's src partitioning serves dedup + out-degree +
scatter join with no edge exchange; parquet scans prune and push down).
These tests pin them so a Spark upgrade or refactor that silently
reintroduces a shuffle fails loudly instead of doubling iteration cost
at 100-TB scale.

AQE is off in the test session (conftest), so plans are deterministic.
"""

from __future__ import annotations

import contextlib
import io
import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import job_ids_of, place_stores

from propagon_spark.canon import dedup_edges
from propagon_spark.errors import NumericError
from propagon_spark.graph.birank import birank
from propagon_spark.graph.components import connected_components
from propagon_spark.graph.core import Graph
from propagon_spark.graph.harmonic import harmonic
from propagon_spark.graph.hits import hits
from propagon_spark.graph.katz import katz
from propagon_spark.graph.kcore import kcore
from propagon_spark.graph.leader_rank import leader_rank
from propagon_spark.graph.lpa import label_propagation
from propagon_spark.graph.pagerank import pagerank
from propagon_spark.graph.random_walker import random_walker
from propagon_spark.graph.rank_centrality import rank_centrality
from propagon_spark.graph.tally import filter_min_count
from propagon_spark.plans import blocks
from propagon_spark.plans.iterate import fixpoint
from propagon_spark.progress import CallbackProgress


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _live_plan(df) -> str:
    """The physical plan without the cached-build subtrees under each
    InMemoryRelation: they are display-only (already materialized)."""
    live, cached = [], None
    for line in _plan(df).splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cached is not None and depth > cached:
            continue
        cached = depth if "InMemoryRelation" in line else None
        live.append(line)
    return "\n".join(live)


def _live_exchanges(df) -> int:
    """Exchanges in the live execution path."""
    return _live_plan(df).count("Exchange")


def _live_shuffles(df) -> int:
    """Live shuffle exchanges: as :func:`_live_exchanges`, but a
    ``BroadcastExchange`` (the |V|-row build side of a broadcast join)
    does not count."""
    return len(re.findall(r"(?<![A-Za-z])Exchange", _live_plan(df)))


def _raw_edges(spark):
    return spark.createDataFrame(
        [(i % 7, (i + 1) % 5, 1.0) for i in range(60)],
        "src long, dst long, weight double",
    )


@pytest.mark.parametrize("build", ["driver", "spark", "dense_ids"])
def test_graph_dedup_runs_no_exchange(spark, monkeypatch, build):
    # the join PageRank's dedup: every Graph constructor caches the edge
    # frame hash-partitioned by src, which satisfies the (src, dst)
    # distinct, so the dedup and the out-degree aggregate over it
    # exchange no edge data
    if build == "dense_ids":
        g = Graph.from_dense_ids(_raw_edges(spark), weight="weight")
    else:
        if build == "spark":
            place_stores(monkeypatch, "workers")
        g = Graph.from_edges(_raw_edges(spark), weight="weight")
    try:
        ded = dedup_edges(g.edges)
        assert _live_exchanges(ded) == 0
        assert _live_exchanges(ded.groupBy("src").count()) == 0
    finally:
        g.unpersist()


def test_cached_graph_partitioning_reused_by_src_aggregates(spark):
    # Graph persists the id-typed frame hash-partitioned by src; every
    # kernel's per-src aggregate must reuse it (zero live exchanges)
    g = Graph.from_dense_ids(_raw_edges(spark), weight="weight")
    try:
        agg = g.edges.groupBy("src").agg(F.sum("weight").alias("s"))
        assert _live_exchanges(agg) == 0
    finally:
        g.unpersist()


def test_scatter_join_ships_only_the_vertex_side(spark):
    # per-iteration scatter join: the dedup'd edge side keeps the Graph's
    # src partitioning, and only the vertex-sized ranks side
    # hash-exchanges to meet it
    g = Graph.from_dense_ids(_raw_edges(spark), weight="weight")
    try:
        ranks = (
            spark.range(7)
            .select(F.col("id").alias("src"), F.lit(0.1).alias("rank"))
            .hint("shuffle_hash")
        )
        assert _live_exchanges(dedup_edges(g.edges).join(ranks, "src")) == 1
    finally:
        g.unpersist()


def test_parquet_scan_prunes_and_pushes_down(spark):
    sf_dir = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
    doc = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    q = doc.where(F.col("text").isNotNull()).select("doc_id", "text")
    plan = _plan(q)
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    # column pruning: only the projected columns reach the scan
    assert "doc_id" in scan and "text" in scan
    assert "n_chars" not in scan and "source" not in scan
    # predicate pushdown: the filter reaches the scan
    assert "PushedFilters: [IsNotNull(text)]" in plan


def test_lsh_candidate_distinct_keys_on_id_pair_only(spark):
    # lsh_cosine_topk dedups bucket-join candidates BEFORE any vector is
    # attached: the distinct's aggregate keys are the two long ids, never
    # the embedding arrays (the round-4 wart shuffled ~dim·8 bytes/row ×
    # num_tables and hash-compared whole float arrays per candidate)
    from propagon_spark.functions.similarity import lsh_cosine_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(lsh_cosine_topk(emb, k=2, num_planes=4, num_tables=2, dim=3))
    dedup_aggs = [
        ln
        for ln in plan.splitlines()
        if "HashAggregate" in ln and "query_id" in ln and "neighbor_id" in ln
    ]
    assert dedup_aggs, "candidate-dedup aggregate missing from plan"
    for ln in dedup_aggs:
        keys = ln.split("keys=[", 1)[1].split("]", 1)[0]
        assert "_qv" not in keys and "_cv" not in keys and "embedding" not in keys


def test_undirected_adjacency_single_exchange(spark):
    # the k-core / LPA adjacency: loop drop + both directions + dedup from
    # ONE exchange (the src repartition also satisfies the distinct)
    from propagon_spark.canon import undirected_adjacency

    g = Graph.from_dense_ids(_raw_edges(spark), weight="weight")
    try:
        assert _live_exchanges(undirected_adjacency(g.edges)) == 1
    finally:
        g.unpersist()


def test_kcore_round_adds_no_exchange(spark):
    # an iterated-H-index round: the cached adjacency joins the broadcast
    # vertex state on dst, then window + aggregate on src reuse the cache's
    # src partitioning — no shuffle exchange at all
    from propagon_spark.canon import undirected_adjacency
    from propagon_spark.graph.kcore import _hindex_round
    from propagon_spark.plans.iterate import truncate_lineage

    g = Graph.from_dense_ids(_raw_edges(spark), weight="weight")
    sym = undirected_adjacency(g.edges).persist()
    try:
        h = truncate_lineage(sym.groupBy("src").agg(F.count("*").alias("h")))
        assert _live_shuffles(_hindex_round(sym, h, broadcast=True)) == 0
    finally:
        sym.unpersist()
        g.unpersist()


def test_derive_edges_two_shuffles(spark):
    # one groupBy(repo, commit) with in-array pair generation, then the
    # per-pair count: two shuffle exchanges and no (repo, commit)
    # self-join; the symmetric union's reversed branch reuses the
    # per-pair exchange (its ``ReusedExchange`` line names it once more)
    from propagon_spark.sources.repo_table import derive_edges

    df = spark.createDataFrame(
        [("r", f"f{i % 5}", f"c{i % 7}") for i in range(30)],
        "repo string, path string, commit string",
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert _live_shuffles(derive_edges(df, symmetric=False)) == 2
        assert _live_shuffles(derive_edges(df, symmetric=True)) == 3
    finally:
        spark.conf.set(key, old)


def _stage_names_of(spark, fn) -> list[str]:
    """Names of the stages of every Spark job ``fn()`` launches."""
    st = spark.sparkContext.statusTracker()
    names = []
    for job in job_ids_of(spark, fn):
        for stage in st.getJobInfo(job).stageIds:
            info = st.getStageInfo(stage)
            if info is not None:
                names.append(info.name)
    return names


def test_birank_sweep_gathers_p_once(spark, monkeypatch):
    # a sweep reads the refreshed p twice (output + u gather): both
    # reads share one exchange
    from propagon_spark.graph import birank as birank_mod

    plans = []
    real = birank_mod.fixpoint

    def spy(state, step, *args, **kw):
        plans.append(_plan(step(state)))
        return real(state, step, *args, **kw)

    monkeypatch.setattr(birank_mod, "fixpoint", spy)
    e = spark.createDataFrame(
        [(f"s{i % 7}", f"d{i % 5}") for i in range(40)], "src string, dst string"
    )
    birank(e, iterations=1)
    assert "ReusedExchange" in plans[0]


def test_from_edges_runs_no_local_checkpoint_below_bound(spark):
    # below the driver-state bound the vocab is sorted on the driver and
    # created from Arrow: no bucket sample, window or localCheckpoint job
    graphs = []
    df = spark.createDataFrame(
        [(f"v{i}", f"v{(i * 3 + 1) % 11}") for i in range(10)],
        "src string, dst string",
    )
    names = _stage_names_of(spark, lambda: graphs.append(Graph.from_edges(df)))
    try:
        assert names
        assert not [n for n in names if "localCheckpoint" in n]
    finally:
        graphs[0].unpersist()


# --- the fixpoint loop: one job per turn, no checkpoint left behind -----

def _loop_rows():
    import random

    rng = random.Random(6)
    names = [f"v{i}" for i in range(60)]
    return sorted({(a, b) for a, b in
                   ((rng.choice(names), rng.choice(names)) for _ in range(300))
                   if a != b})


#: kernels whose turn count the input's depth bounds: they run on a
#: directed path, whose relaxation takes one round per hop and whose
#: last vertex is a sink
_PATH_KERNELS = ("harmonic_unit", "harmonic_weight", "birank", "pagerank_join")


def _loop_inputs(spark, kernel):
    if kernel in _PATH_KERNELS:
        rows = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(39)]
        # a sink, so that pagerank_join's uniform policy redistributes
        assert {b for _, b in rows} - {a for a, _ in rows}
    else:
        rows = _loop_rows()
    g = Graph.from_edges(
        spark.createDataFrame(rows, "src string, dst string")
    )
    # a small Graph's edge cache is filled by the first kernel that
    # scans it; fill it here, so that what a kernel call leaves
    # persisted counts only the call's own frames
    g.edges.count()
    pairwise = spark.createDataFrame(
        [(a, b, 1.0, 0) for a, b in rows],
        "winner string, loser string, weight double, period int",
    )
    return g, pairwise


def _dataflow(kernel, g, **kw):
    """``kernel`` on its dataflow rounds: the edge-block store's vertex
    bound forced to 0."""
    from unittest import mock

    with mock.patch.object(blocks, "DRIVER_STATE_MAX_VERTICES", 0):
        return kernel(g, **kw)


#: each migrated kernel as ``(graph, pairwise, turns) -> lazy result``
_LOOPS = {
    "katz": lambda g, pw, t: katz(g, alpha=0.01, iterations=t, tolerance=0.0),
    "leader_rank": lambda g, pw, t: leader_rank(g, iterations=t, tolerance=0.0),
    "hits": lambda g, pw, t: hits(g, iterations=t, tolerance=0.0).authorities,
    "rank_centrality": lambda g, pw, t: rank_centrality(
        pw, iterations=t, tolerance=0.0),
    "random_walker": lambda g, pw, t: random_walker(
        pw, iterations=t, tolerance=0.0),
    "lpa": lambda g, pw, t: _dataflow(label_propagation, g, max_rounds=t),
    "components": lambda g, pw, t: connected_components(g),
    "kcore_dataflow": lambda g, pw, t: _dataflow(kcore, g),
    "filter_min_count": lambda g, pw, t: filter_min_count(pw, 9),
    "harmonic_unit": lambda g, pw, t: harmonic(g, max_depth=t),
    "harmonic_weight": lambda g, pw, t: harmonic(g, max_depth=t, cost="weight"),
    "birank": lambda g, pw, t: birank(
        pw.select(F.col("winner").alias("src"), F.col("loser").alias("dst")),
        iterations=t).dst_scores,
    # with redistributing sinks a step's sink mass is observed on the
    # previous step's job
    "pagerank_join": lambda g, pw, t: pagerank(
        g, impl="join", sink="uniform", iterations=t).scores,
    # sink-free by the reverse rewrite: still one power step per turn
    "pagerank_join_sinkfree": lambda g, pw, t: pagerank(
        g, impl="join", sink="reverse", iterations=t).scores,
}

#: jobs per turn: 1 for the single-plan walks; hits keeps its two
#: broadcast normalizer jobs next to the materializing one
_TURN_JOBS = {
    "katz": 1, "leader_rank": 1, "hits": 3, "rank_centrality": 1,
    "random_walker": 1, "harmonic_unit": 1, "harmonic_weight": 1,
    "birank": 1, "pagerank_join": 1, "pagerank_join_sinkfree": 1,
}


@pytest.mark.parametrize("kernel", list(_TURN_JOBS))
def test_fixpoint_runs_one_materializing_job_per_turn(spark, kernel):
    # the stop statistics ride the job that materializes the state: no
    # separate .agg().first() or count() job per turn
    run = _LOOPS[kernel]
    g, pw = _loop_inputs(spark, kernel)
    try:
        jobs = {t: len(job_ids_of(spark, lambda t=t: run(g, pw, t).collect()))
                for t in (3, 6)}
    finally:
        g.unpersist()
    assert (jobs[6] - jobs[3]) / 3 == _TURN_JOBS[kernel]


@pytest.mark.parametrize("kernel", list(_LOOPS))
def test_fixpoint_keeps_only_the_final_state(spark, kernel):
    # each turn releases its predecessor's checkpoint blocks and the loop
    # releases its invariant frames: a call leaves at most the final
    # state persisted, however many turns it ran. New RDD ids are
    # counted, since the context cleaner may free older ones meanwhile;
    # the results are held, so it cannot free a final state.
    run = _LOOPS[kernel]
    g, pw = _loop_inputs(spark, kernel)
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    growth, results = {}, []
    try:
        for turns in (3, 30):
            before = persisted()
            results.append(run(g, pw, turns))
            results[-1].collect()
            growth[turns] = len(persisted() - before)
    finally:
        g.unpersist()
    assert growth[3] == growth[30] <= 1, growth



def test_fixpoint_driver_state_runs_no_job(spark):
    # a state that is not a DataFrame runs on the driver backend: step
    # returns the successor and its stats, and each turn calls stop, row
    # (whose return goes to progress) and save in that order, with no
    # Spark job
    trace = []

    def step(x):
        trace.append(("step", int(x[0])))
        return x + 1, {"x": int(x[0]) + 1}

    def stop(turn, m, last):
        trace.append(("stop", turn, m["x"], last["x"]))
        return m["x"] == 3

    out = []
    jobs = job_ids_of(spark, lambda: out.append(fixpoint(
        np.zeros(4, np.int64), step, {}, stop, initial_stats={"x": 0},
        progress=CallbackProgress(lambda ph, m: trace.append(("progress", ph, m))),
        phase="count",
        row=lambda turn, m: trace.append(("row", turn)) or m,
        save=lambda turn, x: trace.append(("save", turn, int(x[0]))),
    )))
    assert jobs == []
    state, turns = out[0]
    assert turns == 3 and (state == 3).all()
    assert trace == [
        e for t in (1, 2, 3) for e in (
            ("step", t - 1), ("stop", t, t, t - 1), ("row", t),
            ("progress", "count", {"x": t}), ("save", t, t))
    ]


def test_fixpoint_driver_state_honours_max_turns(spark):
    def run(max_turns):
        return fixpoint(np.zeros(2), lambda x: (x + 1, {}), {},
                        lambda *_: False, max_turns=max_turns)

    out = []
    assert job_ids_of(spark, lambda: out.extend(run(t) for t in (0, 4))) == []
    for max_turns, (state, turns) in zip((0, 4), out):
        assert turns == max_turns and (state == max_turns).all()


def test_fixpoint_driver_state_stop_error_propagates(spark):
    # a stop that raises the kernel's NumericError ends the loop with that
    # error: release() is never reached for a driver state (vars() of an
    # ndarray raises TypeError), save does not see the failed turn, and
    # no Spark job runs
    saved = []

    def stop(turn, m, last):
        if turn == 2:
            raise NumericError("diverged at turn 2")
        return False

    jobs = job_ids_of(spark, lambda: pytest.raises(
        NumericError, fixpoint, np.ones(3), lambda x: (x * 2, {}), {}, stop,
        save=lambda turn, x: saved.append(turn)))
    assert jobs == []
    assert saved == [1]
