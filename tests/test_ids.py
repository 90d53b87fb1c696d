"""Vocab invariants: dense, deterministic, order-preserving ids."""

import pytest

from propagon_spark.ids import build_vocab
from propagon_spark.plans import blocks


@pytest.fixture(params=["driver", "distributed"])
def vocab_path(request, monkeypatch):
    """Rank the names on the driver (Arrow sort) or, with the driver-state
    bound forced to 0, on the distributed bucketed path used above it."""
    if request.param == "distributed":
        monkeypatch.setattr(blocks, "DRIVER_STATE_MAX_VERTICES", 0)
    return request.param


def test_dense_order_preserving(spark, vocab_path):
    names = ["zeta", "alpha", "mid", "alpha", "00009", "00010"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    v = sorted(
        ((r["name"], r["id"]) for r in build_vocab(df, num_buckets=3).collect()),
        key=lambda t: t[1],
    )
    got_names = [n for n, _ in v]
    got_ids = [i for _, i in v]
    assert got_ids == list(range(5))  # dense 0..n-1
    assert got_names == sorted(set(names))  # id order == name order


def test_stable_across_partitioning(spark, vocab_path):
    names = [f"n{i:04d}" for i in range(200)]
    df2 = spark.createDataFrame([(n,) for n in names], "name string").repartition(2)
    df9 = spark.createDataFrame([(n,) for n in names], "name string").repartition(9)
    v2 = {(r["name"], r["id"]) for r in build_vocab(df2, num_buckets=7).collect()}
    v9 = {(r["name"], r["id"]) for r in build_vocab(df9, num_buckets=13).collect()}
    assert v2 == v9


def test_non_ascii_order_matches_spark(spark, vocab_path):
    # ids follow UTF-8 byte order (Spark's UTF8_BINARY), which is code-point
    # order; a UTF-16 comparison (Java's String order) would put the emoji's
    # surrogate pair before U+FFFF
    names = ["", "Z", "é", "ß", "中文", "￿", "\U0001f600", "a", "é"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    v = {r["name"]: r["id"] for r in build_vocab(df, num_buckets=3).collect()}
    want = sorted(set(names), key=str.encode)
    assert v == {n: i for i, n in enumerate(want)}
    spark_order = [r["name"] for r in df.distinct().orderBy("name").collect()]
    assert spark_order == want
