"""Deferred frames (``plans.deferred.DeferredFrame``): the loader frame
over parquet footers, the derive frame, CSR PageRank's ``ranks`` and a
driver emit build no Spark plan on the driver path, and once read are
the frames their producers built eagerly before."""

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import scores_dict
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    _parse_datatype_json_string,
)

from propagon_spark.graph import Graph
from propagon_spark.graph.kcore import kcore
from propagon_spark.graph.pagerank import pagerank
from propagon_spark.plans.deferred import DeferredFrame
from propagon_spark.sources import repo_table
from propagon_spark.sources.repo_table import derive_edges, load_repo_table
from propagon_spark.streaming.incremental import pagerank_warm

_COLS = ("repo", "path", "commit")
#: four files co-committed ten times, and a commit of one more pair
_ROWS = [("r", p, f"c{i}") for i in range(10) for p in "abcd"] + [
    ("s", "x", "k"), ("s", "y", "k")]


@pytest.fixture
def repo_path(tmp_path):
    path = str(tmp_path / "repo.parquet")
    pq.write_table(pa.table({c: [r[i] for r in _ROWS] for i, c in enumerate(_COLS)}), path)
    return path


def _spy(monkeypatch, calls, owner, name):
    real = getattr(owner, name)

    def spy(*args, **kwargs):
        calls[name] += 1
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, spy)


def _jvm_schema(frame):
    return _parse_datatype_json_string(frame._jdf.schema().json())


def test_driver_pass_plans_only_the_scores(spark, monkeypatch, repo_path):
    # loader -> derive -> driver build -> CSR PageRank -> scores: the one
    # frame Spark creates is the scores' LocalRelation
    calls = dict.fromkeys(("sql", "parquet", "createDataFrame"), 0)
    _spy(monkeypatch, calls, SparkSession, "sql")
    _spy(monkeypatch, calls, DataFrameReader, "parquet")
    _spy(monkeypatch, calls, SparkSession, "createDataFrame")
    edges = derive_edges(load_repo_table(spark, repo_path, columns=_COLS))
    g = Graph.from_edges(edges, weight="weight")
    try:
        res = pagerank(g, tol=1e-6, sink="uniform")
        rows = res.scores.collect()
    finally:
        g.unpersist()
    assert calls == {"sql": 0, "parquet": 0, "createDataFrame": 1}
    assert len(rows) == 6 and isinstance(res.ranks, DeferredFrame)


def test_loader_frame_reads_as_its_scan(spark, repo_path):
    df = load_repo_table(spark, repo_path, columns=_COLS)
    assert isinstance(df, DeferredFrame) and isinstance(df, DataFrame)
    assert df.schema == StructType([StructField(c, StringType()) for c in _COLS])
    assert _jvm_schema(df) == df.schema
    scan = spark.read.parquet(repo_path).select(*_COLS)
    assert sorted(df.collect()) == sorted(scan.collect())


@pytest.mark.parametrize("symmetric", [False, True])
def test_derive_frame_reads_as_its_statement(spark, repo_path, symmetric):
    repo = load_repo_table(spark, repo_path, columns=_COLS)
    edges = derive_edges(repo, symmetric=symmetric)
    assert isinstance(edges, DeferredFrame)
    text = repo_table._DERIVE_SQL + (
        " UNION ALL SELECT dst, src, weight FROM c" if symmetric else "")
    eager = spark.sql(text, args={"cap": repo_table.MAX_COMMIT_FILES},
                      repo=spark.read.parquet(repo_path).select(*_COLS))
    assert edges.schema == eager.schema == StructType([
        StructField("src", StringType(), False), StructField("dst", StringType(), False),
        StructField("weight", DoubleType(), False)])
    assert sorted(edges.collect()) == sorted(eager.collect())
    assert len(edges.collect()) == 7 * (1 + symmetric)
    # a frame of the plan is a plain frame: no recipe, no driver derivation
    assert not isinstance(edges.where("weight > 1"), DeferredFrame)
    assert edges.where("weight > 1").count() == 6 * (1 + symmetric)


@pytest.mark.parametrize("case", ["missing_path", "duplicate_repo"])
def test_derive_edges_raises_analysis_errors_at_the_call(spark, case):
    df = spark.createDataFrame([("r", "a", "c")], "repo string, path string, commit string")
    df = (df.drop("path") if case == "missing_path"
          else df.select("repo", "path", "commit", F.col("repo").alias("repo")))
    with pytest.raises(AnalysisException):
        derive_edges(df)


def test_loader_raises_a_duplicate_column_at_the_call(spark, repo_path):
    # the footers are not read for it, so Spark's read raises as before
    with pytest.raises(AnalysisException, match="COLUMN_ALREADY_EXISTS"):
        load_repo_table(spark, repo_path, columns=("repo", "repo"))


def test_a_failed_build_is_not_a_column_lookup(spark):
    # an AttributeError of the builder must not reach DataFrame.__getattr__,
    # which would read the schema, hence _jdf, again
    def build():
        raise AttributeError("no plan")

    for schema in (None, StructType([StructField("a", StringType())])):
        frame = DeferredFrame(spark, build, schema)
        with pytest.raises(RuntimeError, match="no plan"):
            frame.count()


def _csr_graph(spark, repo_path):
    return Graph.from_edges(derive_edges(load_repo_table(spark, repo_path, columns=_COLS)),
                            weight="weight")


def test_csr_ranks_read_as_the_vector_frame(spark, repo_path):
    g = _csr_graph(spark, repo_path)
    try:
        res = pagerank(g, iterations=5, sink="uniform", impl="csr")
        scores = scores_dict(res.scores)
        names = g.driver_names().to_pylist()
    finally:
        g.unpersist()
    vector = np.array([scores[n] for n in names])
    eager = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(len(vector), dtype="int64"), "rank": vector}))
    assert res.ranks.schema == eager.schema
    assert sorted(res.ranks.collect()) == sorted(eager.collect())


def test_warm_refit_and_resume_from_deferred_ranks(spark, repo_path, tmp_path):
    g = _csr_graph(spark, repo_path)
    try:
        cold = pagerank(g, tol=1e-10, max_iterations=200, sink="uniform", impl="csr")
        prev = pagerank(g, iterations=3, sink="uniform", impl="csr")
        assert isinstance(prev.ranks, DeferredFrame)
        warm = pagerank_warm(g, prev.ranks, tol=1e-10, max_iterations=200,
                             sink="uniform", impl="csr")
        assert warm.converged
        # a checkpoint saves the deferred ranks of a turn; a resume reads them
        ck = str(tmp_path / "ck")
        pagerank(g, iterations=4, sink="uniform", impl="csr",
                 checkpoint_interval=2, checkpoint_dir=ck, run_id="r")
        with open(os.path.join(ck, "r", "manifest_000004.json")) as f:
            assert json.load(f)["schema"] == prev.ranks.schema.jsonValue()
        resumed = pagerank(g, tol=1e-10, max_iterations=200, sink="uniform", impl="csr",
                           checkpoint_dir=ck, run_id="r", resume=True)
        # the saved turns' rows, then the resumed ones from turn 5 on
        assert [m["iteration"] for m in resumed.metrics] == list(range(1, resumed.iterations + 1))
        assert resumed.iterations > 4
        want = scores_dict(cold.scores)
        for res in (warm, resumed):
            got = scores_dict(res.scores)
            assert got.keys() == want.keys()
            assert all(abs(got[k] - want[k]) < 1e-8 for k in want)
    finally:
        g.unpersist()


def _row_types(rows):
    return [(r.__fields__, [type(v) for v in r]) for r in rows]


def test_emit_collects_its_driver_rows(spark, monkeypatch, repo_path):
    # k-core's and a float column's emit: collect builds no plan and
    # returns the rows, fields and value types of Spark's collect
    g = _csr_graph(spark, repo_path)
    try:
        n = g.num_vertices
        scores = np.linspace(1.0, 0.0, n)
        scores[1] = scores[0]  # a tie, ordered by name
        for frame in (kcore(g), g.emit("score", scores, [("score", "descending"),
                                                          ("name", "ascending")])):
            calls = {"createDataFrame": 0}
            _spy(monkeypatch, calls, SparkSession, "createDataFrame")
            rows = frame.collect()
            assert calls["createDataFrame"] == 0 and "_jdf" not in frame.__dict__
            monkeypatch.undo()
            eager = DataFrame.collect(frame)  # builds the LocalRelation
            assert rows == eager and len(rows) == n
            assert _row_types(rows) == _row_types(eager)
            assert frame.schema == _jvm_schema(frame)
            assert frame.collect() == eager
    finally:
        g.unpersist()
