"""Random-walker fixtures (random_walker.rs tests)."""

import pytest

from conftest import scores_dict

from propagon_spark.errors import EmptyDatasetError, InvalidParameterError
from propagon_spark.graph.random_walker import random_walker
from propagon_spark.graph.rank_centrality import rank_centrality


def pairwise(spark, rows):
    return spark.createDataFrame(
        [(w, l, float(x), 0) for w, l, x in rows],
        "winner string, loser string, weight double, period long",
    )


def test_two_team_ratio(spark):
    # detailed balance: π_winner/π_loser = p/(1−p)
    for p in (0.6, 0.75, 0.9):
        s = scores_dict(random_walker(pairwise(spark, [("a", "b", 1)]), p=p))
        assert s["a"] / s["b"] == pytest.approx(p / (1 - p), abs=1e-9), p
        assert sum(s.values()) == pytest.approx(1.0, abs=1e-9)


def test_bad_p(spark):
    d = pairwise(spark, [("a", "b", 1)])
    for p in (0.5, 1.0, 0.2):
        with pytest.raises(InvalidParameterError):
            random_walker(d, p=p)


def test_empty(spark):
    with pytest.raises(EmptyDatasetError):
        random_walker(
            spark.createDataFrame(
                [], "winner string, loser string, weight double, period long"
            )
        )


@pytest.mark.parametrize("kernel", [random_walker, rank_centrality])
def test_all_null_names(spark, kernel):
    # no row names a vertex: an empty graph, not a division by n = 0
    d = spark.createDataFrame(
        [(None, None, 1.0, 0)] * 3,
        "winner string, loser string, weight double, period long",
    )
    with pytest.raises(EmptyDatasetError):
        kernel(d)


def test_transitive_chain_order(spark):
    # a beats b, b beats c → ranking a > b > c
    s = scores_dict(
        random_walker(pairwise(spark, [("a", "b", 1), ("b", "c", 1)]), p=0.75)
    )
    assert s["a"] > s["b"] > s["c"]
