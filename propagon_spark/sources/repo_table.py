"""Repo-files source table: synthesis, edge derivation, sha256 invariant.

The engine's production input (BASELINE.json input_hint) is an Iceberg
table of source-code repositories with columns
``(repo: string, path: string, commit: string, lang: string,
content: string)``. The reference has no such table — its graphs come
from ``src dst [weight]`` text files
(``/root/reference/crates/propagon-cli/src/io.rs:107-125``) — so the
derivation layer is new and deterministic: one Spark SQL statement
(SURVEY.md §7.2) with a numpy twin for small tables, both
cross-checkable row-for-row by a DuckDB oracle. This module owns both.

Edge derivation groups the table by ``(repo, commit)``, collecting each
commit's sorted distinct paths, then generates the commit's file pairs
inside the array and counts them per pair: two shuffle exchanges, no
self-join (:func:`derive_edges`). Its numpy twin :func:`derive_pairs`
derives the same rows from one Arrow batch of the repo table. Below the
driver edge bound ``Graph.from_edges`` asks :func:`driver_derive` for a
derive frame's rows, which reads the repo table on the driver from the
recipe the frame carries, and builds no Spark plan of it: the derive
frame is a ``plans.deferred.DeferredFrame``, whose plan is built only
when Spark reads it.

A local parquet source is read from its footers on the driver
(:func:`parquet_footer`): :func:`load_repo_table` returns a deferred
frame of the schema they give, whose scan is built only when Spark
reads it (with that schema, so no inference job runs), and which
carries their files and row count, so :func:`driver_derive` reads a
small table with pyarrow instead of running a Spark scan, and leaves a
large one unread.

Scale notes: a commit of g files is one aggregation buffer of O(g) paths
until the cap test drops it, so a giant merge/bot commit costs O(g)
memory on one task, not O(g) shuffle rows. Pair generation is O(g²) in
the commit's file count; ``max_commit_files`` caps it (giant commits
contribute noise, not signal). The cap is a fixed documented constant so
results stay deterministic and SQL-expressible.
"""

from __future__ import annotations

import os
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from propagon_spark.ids import driver_vocab
from propagon_spark.plans.blocks import _as_local_path
from propagon_spark.plans.deferred import DeferredFrame

#: commits touching more than this many files are excluded from edge
#: derivation (fan-out bound; SURVEY.md §7.2)
MAX_COMMIT_FILES = 100

_LANGS = ["py", "rs", "go", "java", "c", "ts"]


def synth_repo_table(
    spark: SparkSession,
    n_repos: int = 10,
    n_files_per_repo: int = 50,
    n_commits_per_repo: int = 40,
    touch_prob_mod: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Deterministic synthetic repo table — pure Spark SQL, no Python RNG.

    One row per (repo, commit, file-touched). A commit touches file i iff
    ``pmod(hash(repo, commit, path, seed), touch_prob_mod) == 0`` (~1/mod
    of files), plus every commit touches at least its "anchor" file so no
    commit is empty. Content is a deterministic function of
    (repo, path) + the number of commits that touched the file earlier —
    stable across runs, machines, and parallelism.
    """
    repos = spark.range(n_repos).select(
        F.concat(F.lit("repo"), F.col("id")).alias("repo")
    )
    files = spark.range(n_files_per_repo).select(
        F.concat(
            F.lit("src/f"), F.col("id"), F.lit("."),
            F.element_at(
                F.array(*[F.lit(x) for x in _LANGS]),
                (F.col("id") % len(_LANGS) + 1).cast("int"),
            ),
        ).alias("path"),
        (F.col("id") % len(_LANGS)).alias("_lang_idx"),
    )
    commits = spark.range(n_commits_per_repo).select(
        F.col("id").alias("_cidx")
    )

    grid = repos.crossJoin(files).crossJoin(commits)
    touched = grid.where(
        (
            F.pmod(
                F.hash(F.col("repo"), F.col("path"), F.col("_cidx"), F.lit(seed)),
                F.lit(touch_prob_mod),
            )
            == 0
        )
        | (
            F.pmod(F.hash(F.col("repo"), F.col("_cidx"), F.lit(seed)), F.lit(n_files_per_repo))
            == F.pmod(F.abs(F.hash(F.col("path"))), F.lit(n_files_per_repo))
        )
    )

    return touched.select(
        "repo",
        "path",
        F.sha2(
            F.concat_ws("|", F.col("repo"), F.col("_cidx").cast("string"), F.lit(str(seed))),
            256,
        ).substr(1, 12).alias("commit"),
        F.element_at(
            F.array(*[F.lit(x) for x in _LANGS]),
            (F.col("_lang_idx") + 1).cast("int"),
        ).alias("lang"),
        F.concat(
            F.lit("// synthetic content "),
            F.col("repo"), F.lit("/"), F.col("path"),
            F.lit(" @"), F.col("_cidx").cast("string"),
        ).alias("content"),
    )


def synth_repo_table_sparse(
    spark: SparkSession,
    n_repos: int,
    n_files_per_repo: int,
    n_commits_per_repo: int,
    files_per_commit: int,
    seed: int = 42,
) -> DataFrame:
    """Deterministic sparse synthetic repo table — direct generation.

    :func:`synth_repo_table` scans an ``n_repos × n_files × n_commits``
    cross grid and filters — fine at ~1e8 grid cells, prohibitive at the
    >10M-vertex scale the ``synth-wide`` benchmark input needs (coverage
    of most files forces a huge grid). This generator emits exactly
    ``n_repos × n_commits × files_per_commit`` rows (one per
    (commit, draw slot)) and maps each slot to a file with a hash — no
    grid, so vertex count and edge density tune independently. Same
    output contract and column recipes as :func:`synth_repo_table`;
    duplicate draws within a commit collapse via ``distinct``, so a
    commit touches ≤ ``files_per_commit`` distinct files (≈ all of them
    while ``files_per_commit << n_files_per_repo``).
    """
    c, k = n_commits_per_repo, files_per_commit
    touched = (
        spark.range(n_repos * c * k)
        .select(
            (F.col("id") / (c * k)).cast("long").alias("_r"),
            F.pmod((F.col("id") / k).cast("long"), F.lit(c)).alias("_cidx"),
            F.pmod(F.col("id"), F.lit(k)).alias("_slot"),
        )
        .select(
            F.concat(F.lit("repo"), F.col("_r")).alias("repo"),
            F.col("_cidx"),
            F.pmod(
                F.hash(F.col("_r"), F.col("_cidx"), F.col("_slot"), F.lit(seed)),
                F.lit(n_files_per_repo),
            ).alias("_fidx"),
        )
        .distinct()
    )
    lang = F.element_at(
        F.array(*[F.lit(x) for x in _LANGS]),
        (F.col("_fidx") % len(_LANGS) + 1).cast("int"),
    )
    return touched.select(
        "repo",
        F.concat(F.lit("src/f"), F.col("_fidx"), F.lit("."), lang).alias("path"),
        F.sha2(
            F.concat_ws(
                "|", F.col("repo"), F.col("_cidx").cast("string"), F.lit(str(seed))
            ),
            256,
        ).substr(1, 12).alias("commit"),
        lang.alias("lang"),
        F.concat(
            F.lit("// synthetic content "),
            F.col("repo"), F.lit("/src/f"), F.col("_fidx").cast("string"),
            F.lit(" @"), F.col("_cidx").cast("string"),
        ).alias("content"),
    )


#: the production input contract (BASELINE.json input_hint)
REPO_TABLE_COLUMNS = ("repo", "path", "commit", "lang", "content")


class _Footer(NamedTuple):
    """The recipe of a :func:`load_repo_table` frame read from footers."""

    files: list[str]
    num_rows: int


class _Derivation(NamedTuple):
    """The recipe of a :func:`derive_edges` frame."""

    repo: DataFrame
    cap: int
    symmetric: bool


def _recipe(frame: DataFrame, kind: type):
    """The ``kind`` recipe ``frame`` carries; None for any other frame,
    a transformed one included."""
    recipe = frame.recipe if isinstance(frame, DeferredFrame) else None
    return recipe if isinstance(recipe, kind) else None


def parquet_footer(
    spark: SparkSession, source: str, columns: tuple[str, ...]
) -> tuple[list[str], int] | None:
    """``(files, num_rows)`` of a local parquet ``source`` whose footers
    show every one of ``columns`` as a UTF-8 string, read on the driver
    with no Spark job; None for any other source.

    The source must be a plain path on a local default filesystem or a
    ``file:`` URI, naming a parquet file or a flat directory of parquet
    files (names starting with ``_`` or ``.`` are skipped, as Spark
    skips them), and every file's footer must give the same Arrow
    schema. A hive-partitioned directory, a glob, a remote URI, an
    unreadable footer, a missing or non-string column: None, and
    :func:`load_repo_table` reads the source with Spark as it does any
    other, so its contract checks stay the only ones.
    """
    local = _as_local_path(source)
    if local is None or any(c in local for c in "*?[{\\"):
        return None
    if local == source:  # a plain path names a file on the default filesystem
        default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS")  # noqa: SLF001
        if not (default_fs or "file:").startswith("file:"):
            return None
    if os.path.isfile(local):
        files = [local]
    elif os.path.isdir(local):
        entries = [e for e in os.scandir(local) if not e.name.startswith(("_", "."))]
        if not entries or not all(e.is_file() for e in entries):
            return None
        files = sorted(e.path for e in entries)
    else:
        return None
    try:
        footers = [pq.read_metadata(f) for f in files]
    except (OSError, pa.ArrowException):
        return None
    schema = footers[0].schema.to_arrow_schema()
    if any(not f.schema.to_arrow_schema().equals(schema) for f in footers[1:]):
        return None
    if any(schema.get_field_index(c) < 0
           or schema.field(c).type not in (pa.string(), pa.large_string())
           for c in columns):
        return None
    return _Footer(files, sum(f.num_rows for f in footers))


def load_repo_table(
    spark: SparkSession,
    source: str,
    columns: tuple[str, ...] = REPO_TABLE_COLUMNS,
) -> DataFrame:
    """Load the production repo-files table and validate its contract.

    ``source`` is resolved in order:

    - a catalog table name (``catalog.db.table`` / ``db.table`` /
      registered view) via ``spark.table`` — this is how the Iceberg
      production table is addressed once ``spark.sql.catalog.<name>`` is
      configured on the cluster (the Iceberg runtime jar is a cluster
      deployment concern, not a code path: ``spark.table`` plans through
      whatever DataSourceV2 catalog serves the name, so partition
      pruning / column pushdown on (repo, lang, …) partitions is
      Catalyst-native);
    - otherwise a path read with the format inferred from the suffix
      (``.parquet``/dir → parquet, ``.jsonl``/``.json`` → JSON lines,
      ``.orc`` → ORC).

    A local parquet source whose footers already satisfy the contract
    (:func:`parquet_footer`) is returned as a deferred frame of the
    nullable-string schema they give: its scan, read with that schema so
    that no inference job runs, is built only when Spark reads the
    frame, and the frame carries the footers' files and row count for
    :func:`driver_derive`. Any other source is read here with Spark's
    schema inference, one job for a parquet path.

    The frame is validated against the input-hint contract: every column
    in ``columns`` must exist and be string-typed. Extra columns are
    pruned (column pruning reaches the scan — the 100-TB table's
    ``content`` column is only read by callers that ask for it; pass
    ``columns=("repo", "path", "commit")`` for edge derivation to keep
    the scan at ~3 narrow columns).
    """
    from propagon_spark.errors import InvalidParameterError

    looks_like_path = "/" in source or source.endswith(
        (".parquet", ".json", ".jsonl", ".orc")
    )
    if not looks_like_path:
        df = spark.table(source)
    elif source.rstrip("/").endswith((".json", ".jsonl")):
        df = spark.read.json(source)
    elif source.rstrip("/").endswith(".orc"):
        df = spark.read.orc(source)
    elif (footer := parquet_footer(spark, source, columns)) is not None:
        schema = StructType([StructField(c, StringType()) for c in columns])

        def scan() -> DataFrame:
            return spark.read.schema(schema).parquet(source).select(*columns)

        # a column named twice fails the read's analysis: raise it here
        if len(set(columns)) < len(columns):
            return scan()
        return DeferredFrame(spark, scan, schema, footer)
    else:
        df = spark.read.parquet(source)

    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise InvalidParameterError(
            f"repo table {source!r} is missing required column(s) "
            f"{missing}; the input contract is {list(REPO_TABLE_COLUMNS)} "
            "(BASELINE.json input_hint)"
        )
    nonstring = [
        f.name
        for f in df.schema.fields
        if f.name in columns and f.dataType.simpleString() != "string"
    ]
    if nonstring:
        raise InvalidParameterError(
            f"repo table {source!r} column(s) {nonstring} must be string-"
            "typed per the input contract; cast upstream if the catalog "
            "stores them otherwise"
        )
    return df.select(*columns)


#: the plan of :func:`derive_edges`: ``{repo}`` is the repo frame, ``:cap``
#: its commit cap; internal names start with ``_`` so that a repo frame's
#: other columns cannot clash with them
_DERIVE_SQL = """
WITH g AS (SELECT repo, array_sort(collect_set(path)) AS _p,
                  max(CAST(path IS NULL AS INT)) AS _np
           FROM {repo} WHERE repo IS NOT NULL AND `commit` IS NOT NULL
           GROUP BY repo, `commit`),
c AS (SELECT concat_ws(':', repo, _ab.a) AS src, concat_ws(':', repo, _ab.b) AS dst,
             CAST(count(*) AS DOUBLE) AS weight
      FROM (SELECT repo, explode(flatten(transform(_p, (a, i) ->
              transform(slice(_p, i + 2, size(_p)), b -> struct(a, b))))) AS _ab
            FROM g WHERE size(_p) + _np <= :cap AND size(_p) >= 2)
      GROUP BY 1, 2)
SELECT * FROM c"""


def derive_edges(
    repo_df: DataFrame,
    max_commit_files: int = MAX_COMMIT_FILES,
    symmetric: bool = True,
) -> DataFrame:
    """Co-commit edge derivation (SURVEY.md §7.2): one Spark SQL
    statement, and its numpy twin :func:`derive_pairs`, both pinned by
    the oracle SQL below.

    Files sharing a (repo, commit) group are linked; weight = number of
    shared commits. One row per unordered pair, ``src < dst`` by path;
    ``symmetric=True`` additionally emits the reverse direction (the
    directed reading PageRank wants). Commits touching more than
    ``max_commit_files`` distinct paths are dropped before any pair is
    formed. Rows with a null ``repo`` or ``commit`` contribute nothing; a
    null ``path`` counts toward the cap but forms no pair.

    The plan is the statement ``_DERIVE_SQL``, plus ``UNION ALL SELECT
    dst, src, weight FROM c`` when ``symmetric``: each commit's distinct
    paths, sorted (``array_sort`` is Spark's binary string order, the
    order of ``a.path < b.path``), give the commit's pairs inside the
    array, which are counted per pair. Two shuffle exchanges; no
    self-join.

    When ``repo``, ``commit`` and ``path`` are each present once and
    string-typed, the frame is a deferred frame carrying its recipe: its
    plan is built only when Spark reads it, and ``Graph.from_edges`` can
    derive a small table's rows on the driver (:func:`driver_derive`)
    without ever building it. Any other repo frame gets its plan here,
    so that an analysis error is raised by this call.

    The spec is the oracle SQL (DuckDB, same column names):

        WITH f AS (SELECT DISTINCT repo, commit, path FROM t),
        ok AS (SELECT repo, commit FROM f GROUP BY 1,2
               HAVING count(*) <= {cap}),
        fo AS (SELECT f.* FROM f JOIN ok USING (repo, commit))
        SELECT concat(a.repo, ':', a.path) AS src,
               concat(b.repo, ':', b.path) AS dst,
               CAST(count(*) AS DOUBLE) AS weight
        FROM fo a JOIN fo b USING (repo, commit)
        WHERE a.path < b.path GROUP BY 1, 2
    """
    spark = repo_df.sparkSession
    text = _DERIVE_SQL + (" UNION ALL SELECT dst, src, weight FROM c" if symmetric else "")

    def plan() -> DataFrame:
        return spark.sql(text, args={"cap": max_commit_files}, repo=repo_df)

    # exact names, once each: a case variant or a duplicate goes eager
    used = [f for f in repo_df.schema.fields if f.name.lower() in ("repo", "commit", "path")]
    if (sorted(f.name for f in used) != ["commit", "path", "repo"]
            or not all(isinstance(f.dataType, StringType) for f in used)):
        return plan()
    return DeferredFrame(spark, plan, recipe=_Derivation(repo_df, max_commit_files, symmetric))


def driver_derive(
    edges: DataFrame, max_rows: int
) -> tuple[pa.Array, np.ndarray, np.ndarray, np.ndarray] | None:
    """:func:`derive_pairs` of the repo table of a frame returned by
    :func:`derive_edges`, read on the driver when it has at most
    ``max_rows`` rows; None for any other frame, a larger table or too
    many pairs.

    A :func:`load_repo_table` frame read from parquet footers has its
    files read with pyarrow when their row count is within the bound and
    is not read otherwise: no Spark job either way. Any other repo frame
    is probed with one collect of at most ``max_rows + 1`` rows. Neither
    builds the derive frame's plan.
    """
    recipe = _recipe(edges, _Derivation)
    if recipe is None:
        return None
    repo, cap, symmetric = recipe
    cols = ["repo", "commit", "path"]
    footer = _recipe(repo, _Footer)
    if footer is None:  # probe the repo table
        table = repo.select(*cols).limit(max_rows + 1).toArrow()
    elif footer.num_rows <= max_rows:  # a loader frame: read its files
        table = pa.concat_tables(pq.read_table(f, columns=cols) for f in footer.files)
    else:
        return None
    if table.num_rows > max_rows:
        return None
    return derive_pairs(table, cap, symmetric, max_rows)


def derive_pairs(
    table: pa.Table, cap: int, symmetric: bool, max_rows: int
) -> tuple[pa.Array, np.ndarray, np.ndarray, np.ndarray] | None:
    """:func:`derive_edges` of the ``(repo, commit, path)`` columns of
    ``table`` in numpy: the endpoint names in id order (the vocab's rank
    rule, :func:`ids.driver_vocab`), int64 ``src``/``dst`` ids into them
    and float64 weights; the same row multiset as the plan, whose names
    are ``names[src]``, ``names[dst]``. None when more than ``max_rows``
    unordered pairs would be formed before they are counted (checked
    before any pair is), or when more than ``max_rows`` rows are
    derived."""
    repo, commit, path = (
        table.column(c).combine_chunks().cast(pa.string()) for c in ("repo", "commit", "path"))
    named = pc.and_(pc.is_valid(repo), pc.is_valid(commit))
    repo, commit, path = (c.filter(named) for c in (repo, commit, path))
    # file ranks over every row; a null path ranks -1, first in a commit
    name = pc.binary_join_element_wise(repo, path, ":")
    files = driver_vocab(pc.unique(name).drop_null())
    nf = len(files)
    f = pc.index_in(name, value_set=files).fill_null(-1).to_numpy().astype(np.int64)
    r, c = (x.dictionary_encode().indices.to_numpy() for x in (repo, commit))
    # distinct (commit, file) rows, by commit, files ascending
    order = np.lexsort((f, c, r))
    r, c, f = r[order], c[order], f[order]
    head = np.ones(f.size, bool)
    head[1:] = (r[1:] != r[:-1]) | (c[1:] != c[:-1])
    distinct = head.copy()
    distinct[1:] |= f[1:] != f[:-1]
    group, f = np.cumsum(head[distinct]) - 1, f[distinct]
    # the cap counts a null path; pairs form among real paths only
    kept = (np.bincount(group) <= cap)[group] & (f >= 0)
    group, f = group[kept], f[kept]
    start = np.flatnonzero(np.r_[True, group[1:] != group[:-1]])
    size = np.diff(np.r_[start, f.size])
    later = np.repeat(size, size) - (np.arange(f.size) - np.repeat(start, size)) - 1
    total = int(later.sum())
    if total > max_rows:
        return None
    # the i < j pairs: each entry with every later entry of its commit
    a = np.repeat(np.arange(f.size), later)
    b = a + 1 + np.arange(total) - np.repeat(np.cumsum(later) - later, later)
    code, weight = np.unique(f[a] * nf + f[b], return_counts=True)
    if code.size * (1 + symmetric) > max_rows:
        return None
    used = np.unique(np.concatenate([code // nf, code % nf]))
    src, dst = np.searchsorted(used, code // nf), np.searchsorted(used, code % nf)
    weight = weight.astype(np.float64)
    if symmetric:
        src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
        weight = np.concatenate([weight, weight])
    return files.take(pa.array(used)), src, dst, weight


def content_sha(repo_df: DataFrame) -> DataFrame:
    """Append the per-row invariant column ``sha = sha2(content, 256)``."""
    return repo_df.withColumn("sha", F.sha2(F.col("content"), 256))


def verify_content_sha(derived: DataFrame, source: DataFrame) -> int:
    """Row-for-row content sha256 equality vs the source table
    (BASELINE.json input_hint). Joins on (repo, path, commit) and returns
    the number of violating rows (0 = invariant holds). Pure SQL — no
    Python hashing."""
    d = content_sha(derived).select(
        "repo", "path", "commit", F.col("sha").alias("d_sha")
    )
    s = content_sha(source).select(
        "repo", "path", "commit", F.col("sha").alias("s_sha")
    )
    joined = d.join(s, ["repo", "path", "commit"], "full_outer")
    return joined.where(
        F.col("d_sha").isNull()
        | F.col("s_sha").isNull()
        | (F.col("d_sha") != F.col("s_sha"))
    ).count()
