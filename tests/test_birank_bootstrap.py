"""BiRank (tier-S semantics) + bootstrap resampling + streaming surface."""

import pytest
from pyspark.sql import functions as F

from conftest import make_edges, scores_dict

from propagon_spark.errors import EmptyDatasetError
from propagon_spark.graph import Graph
from propagon_spark.graph.birank import birank
from propagon_spark.graph.bootstrap import bootstrap, resample_edges
from propagon_spark.graph.degree import degree


def test_birank_side_local_spaces(spark):
    # same name "x" on both sides = two entities (birank.rs:3-6)
    e = make_edges(spark, [("x", "x"), ("x", "y"), ("z", "y")])
    res = birank(e, iterations=5)
    src = scores_dict(res.src_scores)
    dst = scores_dict(res.dst_scores)
    assert set(src) == {"x", "z"}
    assert set(dst) == {"x", "y"}
    # dst 'y' receives from both src nodes → strictly positive
    assert dst["y"] > 0


def test_birank_heavily_connected_wins(spark):
    # dst "hub" connected to every src should outrank a 1-edge dst
    rows = [(f"s{i}", "hub") for i in range(6)] + [("s0", "solo")]
    res = birank(make_edges(spark, rows), iterations=10)
    dst = scores_dict(res.dst_scores)
    assert dst["hub"] > dst["solo"]


def test_birank_empty(spark):
    with pytest.raises(EmptyDatasetError):
        birank(spark.createDataFrame([], "src string, dst string"))


def test_resample_seeded_deterministic(spark):
    g = Graph.from_edges(
        make_edges(spark, [(str(i), str(i + 1)) for i in range(50)])
    )
    a = resample_edges(g.edges, seed=7).count()
    b = resample_edges(g.edges, seed=7).count()
    assert a == b  # same seed → same replicate
    # expected size ≈ n (Poisson(1) per edge)
    assert 25 <= a <= 75
    g.unpersist()


def test_bootstrap_intervals(spark):
    g = Graph.from_edges(
        make_edges(
            spark,
            [("a", "b", 5.0), ("c", "b", 3.0), ("b", "a", 1.0), ("c", "a", 1.0)],
            weights=True,
        ),
        weight="weight",
    )
    res = bootstrap(g, lambda rg: degree(rg, "in"), replicates=8, seed=1)
    rows = {r["name"]: r for r in res.intervals.collect()}
    assert set(rows) == {"a", "b", "c"}
    for r in rows.values():
        assert r["score_lo"] <= r["score_mean"] <= r["score_hi"] + 1e-9
    # b receives the big weights → highest mean in-strength
    assert rows["b"]["score_mean"] >= rows["a"]["score_mean"]
    g.unpersist()


def test_streaming_degree_surface(spark, tmp_path):
    # Structured Streaming micro-batch: rate-limited file source
    from propagon_spark.streaming.incremental import streaming_degree

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "e1.csv").write_text("a,b,2.0\nc,b,1.0\n")
    stream = (
        spark.readStream.schema("src string, dst string, weight double")
        .csv(str(src_dir))
    )
    agg = streaming_degree(stream, "in")
    q = (
        agg.writeStream.format("memory")
        .queryName("deg_stream")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        out = {
            r["name"]: r["score"]
            for r in spark.sql("SELECT * FROM deg_stream").collect()
        }
        assert out == {"b": 3.0}
    finally:
        q.stop()


def test_pagerank_warm_start(spark, tmp_path):
    from propagon_spark.graph.pagerank import pagerank
    from propagon_spark.streaming.incremental import pagerank_warm

    g = Graph.from_edges(make_edges(spark, [("1", "2"), ("2", "3"), ("3", "1")]))
    cold = pagerank(g, sink="uniform", tol=1e-10, max_iterations=100)
    warm = pagerank_warm(
        g, cold.ranks.select("id", "rank"), sink="uniform", tol=1e-10,
        max_iterations=100,
    )
    # warm start from the converged state: never worse than cold
    # (traits.rs:107-118) — here it should converge almost immediately
    new_iters = len([m for m in warm.metrics if m["iteration"] > 0])
    assert warm.converged
    s_cold = scores_dict(cold.scores)
    s_warm = scores_dict(warm.scores)
    for k in s_cold:
        assert abs(s_cold[k] - s_warm[k]) < 1e-8
    g.unpersist()


def test_birank_uniform_init_matches_hand_computation(spark):
    # init="uniform" parity mode (pure propagation, birank.rs:196-199):
    # one sweep from an all-ones start is hand-computable.
    # edges: s1-d1 w1, s1-d2 w4, s2-d2 w9
    #   ds(s1)=sqrt(5), ds(s2)=3, dd(d1)=1, dd(d2)=sqrt(13)
    #   p1(d1)=1/(sqrt5*1), p1(d2)=4/(sqrt5*sqrt13)+9/(3*sqrt13)
    import math

    e = make_edges(
        spark, [("s1", "d1", 1.0), ("s1", "d2", 4.0), ("s2", "d2", 9.0)],
        weights=True,
    )
    res = birank(e, iterations=1, init="uniform")
    dst = scores_dict(res.dst_scores)
    s5, s13 = math.sqrt(5.0), math.sqrt(13.0)
    assert abs(dst["d1"] - 1.0 / s5) < 1e-12
    assert abs(dst["d2"] - (4.0 / (s5 * s13) + 9.0 / (3.0 * s13))) < 1e-12
    # the same sweep then refreshes u from the refreshed p: u1 = Σ nw·p1
    nw = {("s1", "d1"): 1.0 / s5, ("s1", "d2"): 4.0 / (s5 * s13),
          ("s2", "d2"): 9.0 / (3.0 * s13)}
    src = scores_dict(res.src_scores)
    for s in ("s1", "s2"):
        u1 = sum(w * dst[d] for (si, d), w in nw.items() if si == s)
        assert abs(src[s] - u1) < 1e-12, s


def test_birank_zero_iterations_returns_the_init(spark):
    e = make_edges(spark, [("s1", "d1"), ("s1", "d2"), ("s2", "d2")])
    res = birank(e, iterations=0, init="uniform")
    assert scores_dict(res.src_scores) == {"s1": 1.0, "s2": 1.0}
    assert scores_dict(res.dst_scores) == {"d1": 1.0, "d2": 1.0}


def test_birank_uniform_deterministic_across_parallelism(spark):
    rows = [(f"s{i % 5}", f"d{i % 7}", float(i % 3 + 1)) for i in range(40)]
    e = make_edges(spark, rows, weights=True)
    a = scores_dict(birank(e, iterations=3, init="uniform").dst_scores)
    b = scores_dict(
        birank(e.repartition(7), iterations=3, init="uniform").dst_scores
    )
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-9


def test_birank_bad_init_rejected(spark):
    e = make_edges(spark, [("a", "b")])
    with pytest.raises(ValueError, match="init"):
        birank(e, init="gaussian")


# ---------------------------------------------------- exact resample


def test_resample_exact_is_n_draws(spark):
    from propagon_spark.graph.bootstrap import resample_edges_exact

    g = Graph.from_edges(
        make_edges(spark, [(str(i), str(i + 1)) for i in range(40)])
    )
    r = resample_edges_exact(g.edges, seed=3)
    # exactly n rows (reference resample.rs:87-95), all from the original
    assert r.count() == 40
    orig = {(x["src"], x["dst"]) for x in g.edges.collect()}
    assert {(x["src"], x["dst"]) for x in r.collect()} <= orig
    # deterministic at any parallelism (hash-keyed draws)
    a = sorted((x["src"], x["dst"]) for x in r.collect())
    b = sorted(
        (x["src"], x["dst"])
        for x in resample_edges_exact(g.edges.repartition(7), seed=3).collect()
    )
    assert a == b
    g.unpersist()


def test_bootstrap_exact_ci_matches_hand_computation(spark):
    # golden-style CI check: recompute each replicate's in-strength from
    # the SAME exact draws independently in pandas, then compare the
    # bootstrap wrapper's mean/CI per entity
    import numpy as np

    from propagon_spark.graph.bootstrap import resample_edges_exact

    g = Graph.from_edges(
        make_edges(
            spark,
            [("a", "b", 5.0), ("c", "b", 3.0), ("b", "a", 1.0), ("c", "a", 1.0)],
            weights=True,
        ),
        weight="weight",
    )
    reps, seed = 8, 11
    res = bootstrap(
        g, lambda rg: degree(rg, "in"), replicates=reps, seed=seed,
        method="exact",
    )
    got = {r["name"]: r for r in res.intervals.collect()}

    names = {r["id"]: r["name"] for r in g.vocab.collect()}
    by_entity: dict[str, list[float]] = {n: [] for n in names.values()}
    for rep in range(reps):
        draws = resample_edges_exact(g.edges, seed=seed + rep).collect()
        strength: dict[str, float] = {n: 0.0 for n in names.values()}
        for row in draws:
            strength[names[row["dst"]]] += row["weight"]
        for n, s in strength.items():
            by_entity[n].append(s)
    for n, scores in by_entity.items():
        assert abs(got[n]["score_mean"] - float(np.mean(scores))) < 1e-9
        # bootstrap CIs are EXACT type-7 percentiles (F.percentile; the
        # same interpolation as np.percentile 'linear'), not a sketch
        assert abs(
            got[n]["score_lo"] - float(np.percentile(scores, 2.5))
        ) < 1e-9
        assert abs(
            got[n]["score_hi"] - float(np.percentile(scores, 97.5))
        ) < 1e-9
    g.unpersist()


def test_bootstrap_bad_method_rejected(spark):
    g = Graph.from_edges(make_edges(spark, [("a", "b")]))
    with pytest.raises(ValueError, match="method"):
        bootstrap(g, lambda rg: degree(rg, "in"), method="jackknife")
    g.unpersist()
