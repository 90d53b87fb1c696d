"""Checkpoint/resume equals uninterrupted run (north rule; CLI analogue
crates/propagon-cli/tests/golden.rs:214-252)."""

import json
import os

import pytest

from conftest import make_edges, scores_dict

from propagon_spark.graph import Graph
from propagon_spark.graph.pagerank import pagerank


ROWS = [("2", "1"), ("2", "3"), ("3", "1"), ("4", "1"), ("4", "2"), ("4", "3"),
        ("1", "5"), ("5", "2")]


@pytest.fixture(scope="module")
def g(spark):
    gr = Graph.from_edges(make_edges(spark, ROWS))
    yield gr
    gr.unpersist()


@pytest.fixture(scope="module")
def g_sink(spark):
    # "6" is a sink: uniform redistribution moves mass every step, and a
    # resumed join fit takes its first sink mass from the resumed ranks
    gr = Graph.from_edges(make_edges(spark, ROWS + [("5", "6")]))
    yield gr
    gr.unpersist()


@pytest.mark.parametrize(
    "impl, graph",
    [("csr", "g"), ("join", "g"), ("csr", "g_sink"), ("join", "g_sink")],
    ids=["csr", "join", "csr-sink", "join-sink"],
)
def test_resume_equals_continuous(spark, request, tmp_path, impl, graph):
    g = request.getfixturevalue(graph)
    ck = str(tmp_path / impl)
    cont = scores_dict(
        pagerank(g, sink="uniform", tol=1e-10, max_iterations=150, impl=impl).scores
    )

    # interrupted run: stop after 6 iterations (checkpoint every 3)
    partial = pagerank(
        g, sink="uniform", tol=1e-30, max_iterations=6,
        checkpoint_interval=3, checkpoint_dir=ck, run_id="r1", impl=impl,
    )
    assert not partial.converged
    # resume from durable checkpoint and run to convergence
    # (max_iterations is a TOTAL ceiling including resumed-from iterations)
    resumed = pagerank(
        g, sink="uniform", tol=1e-10, max_iterations=150,
        checkpoint_interval=3, checkpoint_dir=ck, run_id="r1", resume=True,
        impl=impl,
    )
    assert resumed.converged
    res = scores_dict(resumed.scores)
    for k in cont:
        assert abs(cont[k] - res[k]) < 1e-9, k
    # metrics carry the pre-interrupt history and continue past the
    # resume point with no reset to 0 — evidence the run resumed
    # mid-convergence. Both kernels run one power step per iteration.
    iters = [m["iteration"] for m in resumed.metrics]
    assert iters == list(range(1, len(iters) + 1))
    assert iters[-1] > 6


@pytest.mark.parametrize("graph", ["g", "g_sink"])
def test_join_and_csr_converge_alike(request, graph):
    # convergence mode: both kernels take the same single-step L1 delta
    # each iteration, so they stop at the same one
    g = request.getfixturevalue(graph)
    res = {impl: pagerank(g, sink="uniform", tol=1e-10, max_iterations=150,
                          impl=impl) for impl in ("csr", "join")}
    assert res["csr"].converged and res["join"].converged
    assert res["csr"].iterations == res["join"].iterations


def test_manifest_contents(spark, g, tmp_path):
    ck = str(tmp_path / "ck2")
    pagerank(
        g, sink="uniform", iterations=4, checkpoint_interval=2,
        checkpoint_dir=ck, run_id="m1",
    )
    root = os.path.join(ck, "m1")
    manifests = sorted(f for f in os.listdir(root) if f.startswith("manifest"))
    assert manifests
    m = json.load(open(os.path.join(root, manifests[-1])))
    assert m["iteration"] in (2, 4)
    assert m["partitions"] and all("rows" in p for p in m["partitions"])
    assert m["metrics"][-1]["mass"] == pytest.approx(1.0, abs=1e-9)
