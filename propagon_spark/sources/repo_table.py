"""Repo-files source table: synthesis, edge derivation, sha256 invariant.

The engine's production input (BASELINE.json input_hint) is an Iceberg
table of source-code repositories with columns
``(repo: string, path: string, commit: string, lang: string,
content: string)``. The reference has no such table — its graphs come
from ``src dst [weight]`` text files
(``/root/reference/crates/propagon-cli/src/io.rs:107-125``) — so the
derivation layer is new, deterministic, and pure Spark SQL (SURVEY.md
§7.2), cross-checkable row-for-row by a DuckDB oracle.

Edge derivation is one ``groupBy(repo, commit)`` that collects each
commit's sorted distinct paths, then generates the commit's file pairs
inside the array and counts them per pair: two shuffle exchanges, no
self-join (:func:`derive_edges`).

Scale notes: a commit of g files is one aggregation buffer of O(g) paths
until the cap test drops it, so a giant merge/bot commit costs O(g)
memory on one task, not O(g) shuffle rows. Pair generation is O(g²) in
the commit's file count; ``max_commit_files`` caps it (giant commits
contribute noise, not signal). The cap is a fixed documented constant so
results stay deterministic and SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def file_vertex(repo: F.Column | str = "repo", path: F.Column | str = "path") -> F.Column:
    """Stable file vertex name: ``repo || ':' || path`` (SURVEY.md §7.2)."""
    r = F.col(repo) if isinstance(repo, str) else repo
    p = F.col(path) if isinstance(path, str) else path
    return F.concat_ws(":", r, p)


def derive_edges(
    repo_df: DataFrame,
    max_commit_files: int = MAX_COMMIT_FILES,
    symmetric: bool = True,
) -> DataFrame:
    """Co-commit edge derivation (SURVEY.md §7.2) — pure Catalyst.

    Files sharing a (repo, commit) group are linked; weight = number of
    shared commits. One row per unordered pair, ``src < dst`` by path;
    ``symmetric=True`` additionally emits the reverse direction (the
    directed reading PageRank wants). Commits touching more than
    ``max_commit_files`` distinct paths are dropped before any pair is
    formed. Rows with a null ``repo`` or ``commit`` contribute nothing; a
    null ``path`` counts toward the cap but forms no pair.

    Plan: one ``groupBy(repo, commit)`` collects each commit's distinct
    paths, sorted (``array_sort`` is Spark's binary string order, the
    order of ``a.path < b.path``); the pairs ``(p[i], p[j]), i < j`` are
    generated inside the array and counted per pair by a second
    ``groupBy``. Two shuffle exchanges; no self-join.

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
    paths = F.col("_p")
    groups = (
        repo_df.where(F.col("repo").isNotNull() & F.col("commit").isNotNull())
        .groupBy("repo", "commit")
        .agg(
            F.array_sort(F.collect_set("path")).alias("_p"),
            F.max(F.col("path").isNull().cast("int")).alias("_np"),
        )
        .where(
            (F.size(paths) + F.col("_np") <= max_commit_files)
            & (F.size(paths) >= 2)
        )
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                paths,
                lambda a, i: F.transform(
                    F.slice(paths, i + 2, F.size(paths)),
                    lambda b: F.struct(a.alias("a"), b.alias("b")),
                ),
            )
        )
    ).alias("_ab")
    pairs = (
        groups.select("repo", pair)
        .groupBy(
            file_vertex(F.col("repo"), F.col("_ab.a")).alias("src"),
            file_vertex(F.col("repo"), F.col("_ab.b")).alias("dst"),
        )
        .agg(F.count("*").cast("double").alias("weight"))
    )
    if not symmetric:
        return pairs
    return pairs.unionAll(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )


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
