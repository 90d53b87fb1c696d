"""Multi-period input parsing + the FR-5 warm-start parity contract.

Reference anchors: blank-line period boundaries with empty-period
collapse (``propagon-cli/src/io.rs:22-43``,
``dataset/pairwise.rs:110-123``); warm refits never worse than cold
(``traits.rs:107-118``); the CLI save/load-state two-batch flow equals a
continuous run (``propagon-cli/tests/golden.rs:216-252`` — glicko2 there;
PageRank is the graph-group analogue: a converged warm refit lands on
the same fixpoint as the cold fit).
"""

import pytest

from conftest import make_edges, scores_dict

from propagon_spark.graph import Graph
from propagon_spark.graph.pagerank import pagerank
from propagon_spark.sources.edge_text import read_pairwise_text
from propagon_spark.streaming.incremental import pagerank_warm


def test_blank_line_periods(spark, tmp_path):
    p = tmp_path / "pairs.txt"
    p.write_text(
        "\n"            # leading blank: no-op
        "a b 2\n"
        "c b\n"
        "\n"
        "\n"            # consecutive blanks collapse
        "b a 1\n"
        "# comment\n"
        "\n"
        "a c 3\n"
    )
    rows = read_pairwise_text(spark, str(p), periods=True).collect()
    got = {(r["winner"], r["loser"]): (r["weight"], r["period"]) for r in rows}
    assert got == {
        ("a", "b"): (2.0, 0),
        ("c", "b"): (1.0, 0),
        ("b", "a"): (1.0, 1),
        ("a", "c"): (3.0, 2),
    }


def test_single_period_default(spark, tmp_path):
    p = tmp_path / "pairs.txt"
    p.write_text("a b\n\nb c\n")
    rows = read_pairwise_text(spark, str(p)).collect()
    assert {r["period"] for r in rows} == {0}


def test_two_period_warm_equals_continuous(spark, tmp_path):
    # period 1 edges, then periods 1+2 together; a warm refit seeded with
    # the period-1 ranks must converge to the same fixpoint as the cold
    # continuous fit (PageRank's stationary vector is init-independent)
    p1 = [("a", "b"), ("b", "c"), ("c", "a")]
    p2 = [("c", "d"), ("d", "a"), ("b", "d")]
    g1 = Graph.from_edges(make_edges(spark, p1))
    g12 = Graph.from_edges(make_edges(spark, p1 + p2))

    cold = pagerank(g12, sink="uniform", tol=1e-12, max_iterations=200)
    prev = pagerank(g1, sink="uniform", tol=1e-12, max_iterations=200)
    warm = pagerank_warm(
        g12,
        prev.ranks,
        checkpoint_dir=str(tmp_path / "ck"),
        sink="uniform",
        tol=1e-12,
        max_iterations=200,
    )

    cs, ws = scores_dict(cold.scores), scores_dict(warm.scores)
    assert set(cs) == set(ws)
    for k in cs:
        assert ws[k] == pytest.approx(cs[k], abs=1e-9)
    assert warm.converged

    # FR-5 "never worse" in its sharp form: warm-starting from the
    # continuous fit's own fixpoint must converge (near-)immediately
    rewarm = pagerank_warm(
        g12,
        cold.ranks,
        checkpoint_dir=str(tmp_path / "ck2"),
        sink="uniform",
        tol=1e-10,
        max_iterations=200,
    )
    assert rewarm.converged
    assert rewarm.iterations <= 3
    g1.unpersist()
    g12.unpersist()


@pytest.mark.parametrize("impl", ["csr", "join"])
def test_warm_refit_removes_its_checkpoint_dir(spark, monkeypatch, tmp_path, impl):
    # without a checkpoint_dir the refit checkpoints to a directory of
    # its own and removes it before returning; the result reads none of it
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    g = Graph.from_edges(make_edges(spark, [("a", "b"), ("b", "c"), ("c", "a")]))
    try:
        prev = pagerank(g, sink="uniform", iterations=3, impl=impl)
        res = pagerank_warm(g, prev.ranks, sink="uniform", iterations=3, impl=impl)
        assert list(tmp_path.glob("propagon_warm_*")) == []
        assert len(res.scores.collect()) == len(res.ranks.collect()) == 3
    finally:
        g.unpersist()
