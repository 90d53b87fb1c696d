"""Progress-callback hook (reference FR-3.5, progress.rs:1-30).

The iterative kernels invoke a user-supplied Progress (or bare callable)
on the driver once per solver turn with the same metrics row they append
to their result — so long fits are observable programmatically without
log scraping.
"""

from __future__ import annotations

import pytest

from propagon_spark.graph.components import connected_components
from propagon_spark.graph.core import Graph
from propagon_spark.graph.hits import hits
from propagon_spark.graph.pagerank import pagerank
from propagon_spark.progress import CallbackProgress, Progress, as_progress


def chain_graph(spark, n=6):
    rows = [(f"v{i}", f"v{i+1}", 1.0) for i in range(n - 1)]
    return Graph.from_edges(
        spark.createDataFrame(rows, "src string, dst string, weight double")
    )


def test_pagerank_callback_per_iteration_both_kernels(spark):
    g = chain_graph(spark)
    keys = {}
    for impl in ("csr", "join"):
        calls = []
        res = pagerank(
            g, iterations=3, impl=impl, progress=lambda ph, m: calls.append((ph, m))
        )
        # one callback per power step, with the row appended to metrics
        assert [m["iteration"] for _, m in calls] == [1, 2, 3]
        assert all(m["steps"] == 1 for _, m in calls)
        assert res.iterations == 3
        assert calls == [("pagerank", m) for m in res.metrics]
        assert all("l1_delta" in m and "mass" in m for _, m in calls)
        assert all(m["kernel"] == impl for _, m in calls)
        keys[impl] = {frozenset(m) for _, m in calls}
    # one row builder serves both kernels
    assert keys["csr"] == keys["join"] and len(keys["csr"]) == 1


def test_join_pagerank_loop_keeps_the_session_conf(spark):
    # the join loop runs under the session's conf: a query that runs
    # between its turns sees AQE as the session set it
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    g = chain_graph(spark)
    spark.conf.set(key, "true")
    try:
        seen = []
        res = pagerank(g, iterations=2, impl="join",
                       progress=lambda ph, m: seen.append(spark.conf.get(key)))
        assert seen == ["true", "true"]
        assert len(res.scores.collect()) == 6
    finally:
        spark.conf.set(key, old)
        g.unpersist()


def test_hits_callback_counts(spark):
    g = chain_graph(spark)
    calls = []
    res = hits(g, iterations=4, tolerance=0.0, progress=lambda ph, m: calls.append((ph, m)))
    assert len(calls) == res.iterations == 4
    assert calls[0][0] == "hits"
    assert calls[-1][1]["iteration"] == 4


def test_components_callback_rounds_and_progress_subclass(spark):
    g = chain_graph(spark, n=9)

    class Recorder(Progress):
        def __init__(self):
            self.started, self.finished, self.rows = None, False, []

        def start(self, phase, total=None):
            self.started = phase

        def iteration(self, phase, metrics):
            self.rows.append(metrics)

        def finish(self):
            self.finished = True

    rec = Recorder()
    connected_components(g, progress=rec)
    assert rec.started == "components" and rec.finished
    # fixpoint ends with a no-change round; rounds are 1..k
    assert rec.rows[-1]["changed"] == 0
    assert [m["round"] for m in rec.rows] == list(range(1, len(rec.rows) + 1))


def test_as_progress_normalization():
    assert isinstance(as_progress(None), Progress)
    assert isinstance(as_progress(lambda p, m: None), CallbackProgress)
    p = Progress()
    assert as_progress(p) is p
    with pytest.raises(TypeError):
        as_progress(42)
