"""Repo-table synthesis, co-commit edge derivation, sha256 invariant
(SURVEY.md §7.2, BASELINE.json input_hint)."""

import collections
import glob
import itertools
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import job_ids_of, place_stores
from pyspark.sql import functions as F

from propagon_spark.errors import InvalidParameterError
from propagon_spark.graph import Graph
from propagon_spark.graph.pagerank import pagerank
from propagon_spark.plans import blocks
from propagon_spark.sources import repo_table
from propagon_spark.sources.repo_table import (
    derive_edges,
    driver_derive,
    load_repo_table,
    parquet_footer,
    synth_repo_table,
    verify_content_sha,
)


@pytest.fixture(scope="module")
def repo_df(spark):
    df = synth_repo_table(spark, n_repos=3, n_files_per_repo=10, n_commits_per_repo=8)
    df = df.localCheckpoint(eager=True)
    return df


def test_schema_and_determinism(spark, repo_df):
    assert set(repo_df.columns) == {"repo", "path", "commit", "lang", "content"}
    assert repo_df.count() > 0
    again = synth_repo_table(
        spark, n_repos=3, n_files_per_repo=10, n_commits_per_repo=8
    )
    sym_diff = repo_df.exceptAll(again).count() + again.exceptAll(repo_df).count()
    assert sym_diff == 0


def test_derive_edges_matches_manual(spark):
    rows = [
        ("r", "a.py", "c1", "py", "x"),
        ("r", "b.py", "c1", "py", "y"),
        ("r", "a.py", "c2", "py", "x"),
        ("r", "b.py", "c2", "py", "y"),
        ("r", "c.py", "c2", "py", "z"),
        ("s", "a.py", "c1", "py", "w"),  # same commit id, different repo
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    e = {(r["src"], r["dst"]): r["weight"] for r in derive_edges(df, symmetric=False).collect()}
    assert e == {
        ("r:a.py", "r:b.py"): 2.0,
        ("r:a.py", "r:c.py"): 1.0,
        ("r:b.py", "r:c.py"): 1.0,
    }
    sym = derive_edges(df, symmetric=True)
    assert sym.count() == 6


@pytest.mark.parametrize("symmetric", [False, True])
def test_derive_edges_reads_only_its_columns(spark, symmetric):
    # extra columns named like the plan's own and an integer commit
    # derive the rows of the string projection, as non-null columns;
    # the statement's repo view is gone after the call
    rows = [(r, p, c) for r, p, c in _CASES["random"][0] if c is not None]
    wide = spark.createDataFrame(
        [(r, p, int(c[1:]), "py", "x", 1, 2) for r, p, c in rows],
        "repo string, path string, commit int, lang string, content string, _p int, _ab int")
    narrow = spark.createDataFrame(
        [(r, p, c[1:]) for r, p, c in rows], "repo string, path string, commit string")
    got, want = (derive_edges(df, max_commit_files=6, symmetric=symmetric)
                 for df in (wide, narrow))
    assert [t.name for t in spark.catalog.listTables() if t.name.startswith("_pyspark_")] == []
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in got.schema.fields] == [
        ("src", "string", False), ("dst", "string", False), ("weight", "double", False)]
    assert got.schema == want.schema
    assert collections.Counter(map(tuple, got.collect())) == \
        collections.Counter(map(tuple, want.collect()))


def _random_table():
    rng = random.Random(7)
    repos = ["r0", "r1", "r2", None]
    commits = [f"c{i}" for i in range(12)] + [None]
    paths = [f"p{i}.py" for i in range(14)] + ["é.py", "Z.py", None]
    rows = [
        (rng.choice(repos), rng.choice(paths), rng.choice(commits))
        for _ in range(250)
    ]
    rows += rng.sample(rows, 50)  # exact duplicates
    return rows


#: the derivation cases: ``(repo, path, commit)`` rows and their cap
_CASES = {
    "cap": ([("r", f"f{i}.py", "big") for i in range(5)]
            + [("r", "a.py", "ok"), ("r", "b.py", "ok")], 4),
    # "full" has cap real paths plus one null path: cap + 1 distinct
    # paths, so it is dropped; "fits" has cap - 1 real paths plus a null
    "null_path_at_cap": ([("r", f"f{i}", "full") for i in range(3)] + [("r", None, "full")]
                         + [("r", "a", "fits"), ("r", "b", "fits"), ("r", None, "fits")], 3),
    "null_repo_or_commit": ([("r", "a", None), ("r", "b", None),
                             (None, "a", "c1"), (None, "b", "c1"),
                             ("r", "a", "c2"), ("r", "b", "c2")], 100),
    # 4 distinct paths fit a cap of 4 although the commit has 7 rows
    "duplicate_rows": ([("r", "a", "c1")] * 3 + [("r", "b", "c1")] * 2
                       + [("r", "c", "c1"), ("r", "d", "c1")], 4),
    "same_commit_two_repos": ([("r", "a", "c"), ("r", "b", "c"),
                               ("s", "a", "c"), ("s", "z", "c")], 100),
    # UTF-8 byte order: "Z" < "a" < "z" < "é"; and repo "r-" sorts
    # before "r" once ":" is appended ("r-:" < "r:")
    "byte_order": ([("r", p, "c1") for p in ("é", "z", "Z", "a")]
                   + [("r-", "é", "c2"), ("r-", "Z", "c2"), ("r", "é", "c2"), ("r", "Z", "c2")], 100),
    "random": (_random_table(), 6),
}


def test_commit_cap(spark):
    rows = [("r", f"f{i}.py", "big", "py", "x") for i in range(5)]
    rows += [("r", "a.py", "ok", "py", "x"), ("r", "b.py", "ok", "py", "y")]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    e = derive_edges(df, max_commit_files=4, symmetric=False).collect()
    assert {(r["src"], r["dst"]) for r in e} == {("r:a.py", "r:b.py")}


def _derived(spark, rows, **kw):
    """``derive_edges(symmetric=False)`` over ``(repo, path, commit)`` rows
    as ``{(src, dst): weight}``."""
    df = spark.createDataFrame(rows, "repo string, path string, commit string")
    return {
        (r["src"], r["dst"]): r["weight"]
        for r in derive_edges(df, symmetric=False, **kw).collect()
    }


def test_null_repo_or_commit_contributes_nothing(spark):
    rows, _ = _CASES["null_repo_or_commit"]
    assert _derived(spark, rows) == {("r:a", "r:b"): 1.0}


def test_null_path_counts_toward_cap_but_forms_no_edge(spark):
    rows, cap = _CASES["null_path_at_cap"]
    assert _derived(spark, rows, max_commit_files=cap) == {("r:a", "r:b"): 1.0}


def test_duplicate_rows_count_once(spark):
    rows, cap = _CASES["duplicate_rows"]
    e = _derived(spark, rows, max_commit_files=cap)
    assert e == {
        (f"r:{a}", f"r:{b}"): 1.0
        for a, b in itertools.combinations("abcd", 2)
    }


def test_same_commit_in_two_repos_forms_no_cross_repo_edge(spark):
    rows, _ = _CASES["same_commit_two_repos"]
    assert _derived(spark, rows) == {("r:a", "r:b"): 1.0, ("s:a", "s:z"): 1.0}


def test_derive_edges_matches_python_reference(spark):
    rows, cap = _CASES["random"]

    groups = collections.defaultdict(set)
    for repo, path, commit in rows:
        if repo is not None and commit is not None:
            groups[repo, commit].add(path)
    want = collections.Counter()
    for (repo, _), ps in groups.items():
        if len(ps) <= cap:
            real = sorted((p for p in ps if p is not None), key=str.encode)
            for a, b in itertools.combinations(real, 2):
                want[f"{repo}:{a}", f"{repo}:{b}"] += 1
    assert want  # the table forms edges, and some groups exceed the cap
    assert any(len(ps) > cap for ps in groups.values())
    assert _derived(spark, rows, max_commit_files=cap) == {
        k: float(v) for k, v in want.items()
    }


def test_sha_invariant_holds_and_detects(spark, repo_df):
    assert verify_content_sha(repo_df, repo_df) == 0
    tampered = repo_df.withColumn(
        "content",
        F.when(F.col("path") == "src/f0.py", F.lit("EVIL")).otherwise(
            F.col("content")
        ),
    )
    assert verify_content_sha(tampered, repo_df) > 0


def test_end_to_end_pagerank_over_derived_graph(spark, repo_df):
    edges = derive_edges(repo_df)
    g = Graph.from_edges(edges, weight="weight")
    res = pagerank(g, iterations=5, sink="uniform")
    rows = res.scores.collect()
    assert len(rows) == g.num_vertices
    total = sum(r["score"] for r in rows)
    assert abs(total - 1.0) < 1e-6
    g.unpersist()


def test_load_repo_table_paths_and_catalog(spark, repo_df, tmp_path):
    from propagon_spark.errors import InvalidParameterError

    # parquet path round-trip, contract columns only, extra cols pruned
    p = str(tmp_path / "repo.parquet")
    repo_df.withColumn("extra", F.lit(1)).write.parquet(p)
    loaded = load_repo_table(spark, p)
    assert loaded.columns == ["repo", "path", "commit", "lang", "content"]
    assert loaded.count() == repo_df.count()

    # narrow-column projection keeps the scan at the asked-for columns
    narrow = load_repo_table(spark, p, columns=("repo", "path", "commit"))
    assert narrow.columns == ["repo", "path", "commit"]

    # catalog-name resolution path (Iceberg tables address the same way
    # once the catalog is configured; in-sandbox a temp view stands in)
    repo_df.createOrReplaceTempView("repo_files_v")
    via_table = load_repo_table(spark, "repo_files_v")
    assert via_table.count() == repo_df.count()

    # contract violations are typed errors
    repo_df.drop("lang").write.parquet(str(tmp_path / "missing.parquet"))
    with pytest.raises(InvalidParameterError, match="missing"):
        load_repo_table(spark, str(tmp_path / "missing.parquet"))
    repo_df.withColumn("commit", F.lit(1)).write.parquet(
        str(tmp_path / "badtype.parquet")
    )
    with pytest.raises(InvalidParameterError, match="string"):
        load_repo_table(spark, str(tmp_path / "badtype.parquet"))


def test_sparse_generator_contract(spark):
    from propagon_spark.sources.repo_table import synth_repo_table_sparse

    df = synth_repo_table_sparse(
        spark, n_repos=5, n_files_per_repo=40,
        n_commits_per_repo=6, files_per_commit=4,
    )
    assert set(df.columns) == {"repo", "path", "commit", "lang", "content"}
    again = synth_repo_table_sparse(
        spark, n_repos=5, n_files_per_repo=40,
        n_commits_per_repo=6, files_per_commit=4,
    )
    assert df.exceptAll(again).count() + again.exceptAll(df).count() == 0
    # a commit touches at most files_per_commit distinct files
    per_commit = (
        df.groupBy("repo", "commit").agg(F.count("*").alias("k")).collect()
    )
    assert per_commit and all(r["k"] <= 4 for r in per_commit)
    # no duplicate (repo, commit, path) rows (distinct collapsed draws)
    assert df.count() == df.select("repo", "commit", "path").distinct().count()
    # feeds the standard derivation
    e = derive_edges(df, max_commit_files=100, symmetric=True)
    assert e.count() > 0
    # symmetric: each (a,b) has its (b,a) twin
    fwd = e.select("src", "dst")
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    assert fwd.exceptAll(rev).count() == 0


def _spy_derive_pairs(monkeypatch):
    """Record each ``derive_pairs`` result ``Graph.from_edges`` gets."""
    results = []

    def spy(*args, **kw):
        results.append(real(*args, **kw))
        return results[-1]

    real = repo_table.derive_pairs
    monkeypatch.setattr(repo_table, "derive_pairs", spy)
    return results


def _graph_values(g, driver_held):
    """A Graph's vocab, names and edge-row multiset: its driver-held
    columns when ``driver_held``, its edge frame otherwise."""
    if driver_held:
        held = g.driver_edges()
        edges = zip(*(held.column(c).to_pylist() for c in ("src", "dst", "weight")))
    else:
        assert "driver_edges" not in g._owned
        edges = (tuple(r) for r in g.edges.collect())
    return (sorted(tuple(r) for r in g.vocab.collect()), g.names.to_pylist(),
            g.num_vertices, g.num_edge_rows, collections.Counter(edges))


def _spark_built(spark, monkeypatch, edges, weight):
    """``_graph_values`` of ``edges``' Graph built with Spark."""
    with monkeypatch.context() as m:
        place_stores(m, "workers")
        g = Graph.from_edges(edges, weight=weight)
        try:
            return _graph_values(g, driver_held=False)
        finally:
            g.unpersist()


@pytest.mark.parametrize("symmetric, weight", [(False, "weight"), (True, "weight"), (True, None)])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_driver_derive_builds_the_spark_graph(spark, monkeypatch, case, symmetric, weight):
    # below the bound a derive frame's Graph is derived and interned by
    # the numpy twin: the vocab, names and edge rows of the Spark build
    rows, cap = _CASES[case]
    df = spark.createDataFrame(rows, "repo string, path string, commit string")
    edges = derive_edges(df, max_commit_files=cap, symmetric=symmetric)
    want = _spark_built(spark, monkeypatch, edges, weight)
    derived = _spy_derive_pairs(monkeypatch)
    g = Graph.from_edges(edges, weight=weight)
    try:
        assert len(derived) == 1 and derived[0] is not None
        assert _graph_values(g, driver_held=True) == want
    finally:
        g.unpersist()


#: (repo rows, transform of the derive frame, edge bound) of inputs the
#: driver derivation must leave to today's path: more repo rows than the
#: bound (46 > 45); more pairs formed than the bound (75 > 60, with 42
#: rows derived); more rows derived than the bound (30 > 20, 15 pairs);
#: a derive frame transformed before the build
_FOUR_FILES = [("r", p, f"c{i}") for i in range(10) for p in "abcd"]
_SIX_FILES = [("r", p, "big") for p in "efghij"]
_FALLBACKS = {
    "repo_rows": (_FOUR_FILES + _SIX_FILES, None, 45),
    "pairs_formed": (_FOUR_FILES + _SIX_FILES, None, 60),
    "rows_derived": (_SIX_FILES, None, 20),
    "transformed": (_FOUR_FILES + _SIX_FILES, lambda e: e.where("weight > 0"), None),
}


@pytest.mark.parametrize("case", sorted(_FALLBACKS))
def test_driver_derive_falls_back(spark, monkeypatch, case):
    rows, transform, bound = _FALLBACKS[case]
    df = spark.createDataFrame(rows, "repo string, path string, commit string")
    edges = derive_edges(df)
    if transform is not None:
        edges = transform(edges)
    want = _spark_built(spark, monkeypatch, edges, "weight")
    derived = _spy_derive_pairs(monkeypatch)
    if bound is not None:
        monkeypatch.setattr(blocks, "DRIVER_STORE_MAX_EDGE_ROWS", bound)
    g = Graph.from_edges(edges, weight="weight")
    try:
        assert all(d is None for d in derived)
        assert (case == "repo_rows" or transform is not None) == (not derived)
        assert _graph_values(g, "driver_edges" in g._owned) == want
    finally:
        g.unpersist()


_COLS = ("repo", "path", "commit")


def _arrow(rows):
    return pa.table({c: pa.array([r[i] for r in rows], pa.string())
                     for i, c in enumerate(_COLS)})


def _same_derivation(a, b) -> bool:
    """Whether two ``derive_pairs`` results are the same rows."""
    return a[0].equals(b[0]) and all(map(np.array_equal, a[1:], b[1:]))


def _scan_graph(spark, monkeypatch, scan, cap):
    """``_graph_values`` of the Spark build of ``scan``'s derive frame."""
    return _spark_built(spark, monkeypatch,
                        derive_edges(scan.select(*_COLS), max_commit_files=cap), "weight")


@pytest.mark.parametrize("writer", ["spark", "pyarrow"])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_footer_read_builds_the_scan_graph(spark, monkeypatch, tmp_path, case, writer):
    # a local parquet table, a Spark output directory of several part
    # files or one pyarrow file, is loaded from its footers with no job,
    # and its derive frame's Graph is built from its files on the
    # driver: the Graph of the Spark scan of the same table
    rows, cap = _CASES[case]
    path = str(tmp_path / "repo.parquet")
    if writer == "spark":
        spark.createDataFrame(rows, "repo string, path string, commit string") \
            .repartition(3).write.parquet(path)
        files = sorted(glob.glob(os.path.join(path, "part-*")))
        assert len(files) > 1 and os.path.exists(os.path.join(path, "_SUCCESS"))
    else:
        pq.write_table(_arrow(rows), path)
        files = [path]
    loaded = []
    assert job_ids_of(spark, lambda: loaded.append(
        load_repo_table(spark, path, columns=_COLS))) == []
    assert parquet_footer(spark, path, _COLS) == (files, len(rows))
    edges = derive_edges(loaded[0], max_commit_files=cap)
    bound = blocks.DRIVER_STORE_MAX_EDGE_ROWS
    # the loader frame derives with no job, and so it does not when the
    # derive frame is transformed, which has no recipe; a transformed
    # loader frame has no footers: its repo table is probed
    out = []
    assert job_ids_of(spark, lambda: out.append(driver_derive(edges, bound))) == []
    assert out[0] is not None
    assert job_ids_of(spark, lambda: out.append(driver_derive(edges.where("true"), bound))) == []
    assert out[1] is None
    assert job_ids_of(spark, lambda: out.append(
        driver_derive(derive_edges(loaded[0].where("true"), max_commit_files=cap), bound)))
    assert _same_derivation(out[2], out[0])
    want = _scan_graph(spark, monkeypatch, spark.read.parquet(path), cap)
    derived = _spy_derive_pairs(monkeypatch)
    g = Graph.from_edges(edges, weight="weight")
    try:
        assert len(derived) == 1 and derived[0] is not None
        assert _graph_values(g, driver_held=True) == want
    finally:
        g.unpersist()


def _stored(spark, tmp_path, how, rows):
    """``(source, the frame Spark scans)`` of ``rows`` stored ``how``."""
    df = spark.createDataFrame(rows, "repo string, path string, commit string")
    path = str(tmp_path / "repo")
    if how == "file_uri":
        df.write.parquet(path)
        return "file://" + path, spark.read.parquet(path)
    if how == "hive_partitioned":
        df.write.partitionBy("repo").parquet(path)
        return path, spark.read.parquet(path)
    if how in ("schemas_differ", "binary_path"):
        os.makedirs(path)
        table, half = _arrow(rows), len(rows) // 2
        if how == "binary_path":  # bytes with no UTF-8 annotation
            table = table.set_column(1, "path", table.column("path").cast(pa.binary()))
        pq.write_table(table.slice(0, half), os.path.join(path, "a.parquet"))
        rest = table.slice(half)
        if how == "schemas_differ":
            rest = rest.append_column("lang", pa.array(["py"] * rest.num_rows))
        pq.write_table(rest, os.path.join(path, "b.parquet"))
        return path, spark.read.parquet(path)
    if how == "json":
        df.write.json(path + ".jsonl")
        return path + ".jsonl", spark.read.json(path + ".jsonl")
    df.createOrReplaceTempView("repo_footer_v")
    return "repo_footer_v", spark.table("repo_footer_v")


@pytest.mark.parametrize("how", ["file_uri", "hive_partitioned", "schemas_differ",
                                 "binary_path", "json", "catalog"])
def test_loader_reads_footers_of_local_parquet_only(spark, monkeypatch, tmp_path, how):
    # only a local parquet source with one string schema is read from
    # its footers; any other takes the Spark read, which keeps the
    # contract checks: a binary path column is not a string
    rows, cap = _CASES["random"]
    source, scan = _stored(spark, tmp_path, how, rows)
    footer = parquet_footer(spark, source, _COLS)
    assert (footer is not None) == (how == "file_uri")
    if how == "binary_path":
        with pytest.raises(InvalidParameterError, match="must be string-typed"):
            load_repo_table(spark, source, columns=_COLS)
        return
    edges = derive_edges(load_repo_table(spark, source, columns=_COLS), max_commit_files=cap)
    # above the bound a loader frame read from footers returns None with
    # no job: its footers show the row count
    out = []
    jobs = job_ids_of(spark, lambda: out.append(driver_derive(edges, len(rows) - 1)))
    assert out == [None]
    if footer is not None:
        assert jobs == []
    want = _scan_graph(spark, monkeypatch, scan, cap)
    g = Graph.from_edges(edges, weight="weight")
    try:
        assert _graph_values(g, driver_held=True) == want
    finally:
        g.unpersist()
