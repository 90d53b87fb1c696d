"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs a propagon_spark operator over the
driver-generated test tables; ``oracle_sql()`` holds the equivalent
DuckDB SQL. Graph queries run over a co-occurrence edge table derived
from ``lineitem`` (order = commit, part = file — the same co-commit
derivation as SURVEY.md §7.2; see
``propagon_spark/sources/tpch_graph.py``). Fixed-iteration kernels
(pagerank/ppr/hits/katz/leader-rank/rank-centrality/random-walker) are
oracled by UNROLLING the power steps into chained DuckDB CTEs —
multiply-referenced step CTEs are ``MATERIALIZED`` or DuckDB inlines
them 2^k-fold. MinHash/SimHash near-dup and the cluster operator are
oracled by replaying their deterministic signature arithmetic in
HUGEINT (see _minhash_pair_ctes). Converged (tol-based) PageRank is
oracled by unrolling to the measured sf0.01 stopping iteration with a
sentinel that fires loudly if that calibration drifts. Sampled harmonic
is oracled by replaying Spark's xxhash64 order-statistics source draw
bit-exactly in DuckDB HUGEINT/UBIGINT arithmetic (_xxhash64_pair_ctes).
The exact-mode bootstrap gets the same treatment (per-replicate draws
are xxhash64(i, seed+rep) mod n). Only genuinely RNG-bound operators
(random-init BiRank, the Poisson-bootstrap scale default — rand()
substreams are partition-assigned — and embedding near-dup's float
hyperplanes) are registered without an oracle (rows-only check).

Float-valued results are rounded to 9 decimals on BOTH sides: the math
is arranged so both engines fold doubles in the same order, and the
rounding absorbs last-ulp differences from Spark's partition-parallel
sums.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from propagon_spark.graph.core import Graph  # noqa: E402
from propagon_spark.sources import tpch_graph  # noqa: E402
from propagon_spark.sources.tpch_graph import ORACLE_EDGES_CTE, ORDER_CAP  # noqa: E402

DAMPING = 0.85
PPR_DAMPING = 0.5
PR_ITERS = 3
HITS_ITERS = 2
KATZ_ALPHA = 0.1
KATZ_ITERS = 3
LR_ITERS = 3
#: peel rounds per k in the k-core oracle CTE — must cover the longest
#: remove-recompute cascade at any k on the driver's sf (validated vs the
#: Spark peel in tests; extra rounds are no-ops)
_KCORE_ROUNDS = 32
RC_ITERS = 20
RW_ITERS = 20
RW_BIAS = 0.75
HARMONIC_DEPTH = 4
#: fixed-source harmonic parity mode: the K lexicographically smallest
#: vertex names — an SQL-expressible deterministic source set, so the
#: scaled-estimator math gets an exact oracle independent of the hash
#: draw below
HARMONIC_SRC_K = 64
#: sampled-source harmonic: the xxhash64(id, seed) order-statistics
#: draw is ALSO SQL-expressible — dense ids are name ranks
#: (ids.py: order-preserving vocab), and Spark's two-column xxhash64
#: chain hashInt(seed, hashLong(id, 42)) is replayed bit-exactly in
#: DuckDB HUGEINT/UBIGINT arithmetic (_xxhash64_pair_ctes; model
#: verified against live Spark in scripts/dev_xxhash_model.py). Depth-
#: bounded so the BFS closure CTE stays ~V*K*depth rows.
HARMONIC_SAMPLE_K = 64
HARMONIC_SAMPLED_DEPTH = 6
HARMONIC_SAMPLED_SEED = 2014
PR_CONV_STEPS = 60
#: iteration at which the tol=1e-6 convergence loop stops on the sf0.01
#: symmetric co-commit graph (measured: L1 deltas 2.78e-6 @6 -> 4.31e-7
#: @7, both >2x clear of the threshold, so float fold-order noise cannot
#: flip the stop). Calibrated to sf0.01 exactly like _FMC_ROUNDS; the
#: oracle carries a sentinel that fires LOUDLY (marker row => row-count
#: mismatch) if this stops being the kernel's true stopping iteration.
PR_CONV_TOL = 1e-6
PR_CONV_ITERS_SF001 = 7


def _doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _graph(spark: SparkSession, sf_dir: str, symmetric: bool, min_weight: int = 1) -> Graph:
    e = tpch_graph.cocommit_edges(spark, sf_dir, symmetric=symmetric, min_weight=min_weight)
    return Graph.from_edges(e, weight="weight")


# --------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank to 1e-6 convergence over the co-occurrence
    graph derived from sf0.001 lineitem."""
    from propagon_spark.graph.pagerank import pagerank

    g = _graph(spark, "/root/testdata/sf0.001", symmetric=True)
    res = pagerank(g, damping=DAMPING, sink="uniform", tol=1e-6, max_iterations=100)
    return res.scores


# ------------------------------------------------------------- queries


def q_edge_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch_graph.cocommit_edges(spark, sf_dir, symmetric=False)


def _degree(direction: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from propagon_spark.graph.degree import degree

        g = _graph(spark, sf_dir, symmetric=False)
        return degree(g, direction)

    return run


def q_pagerank_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.graph.pagerank import pagerank

    g = _graph(spark, sf_dir, symmetric=True)
    res = pagerank(g, damping=DAMPING, iterations=PR_ITERS, sink="none")
    return res.scores.select("name", F.round("score", 9).alias("score"))


def q_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.graph.pagerank import pagerank

    g = _graph(spark, sf_dir, symmetric=True)
    seed = g.vocab.agg(F.min("name")).first()[0]
    res = pagerank(
        g, damping=PPR_DAMPING, iterations=PR_ITERS, sink="none", seeds={seed: 1.0}
    )
    return res.scores.select("name", F.round("score", 9).alias("score"))


def q_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.graph.components import connected_components

    g = _graph(spark, sf_dir, symmetric=False, min_weight=2)
    cc = connected_components(g)
    rep = g.vocab.select(
        F.col("id").alias("component"), F.col("name").alias("component_name")
    )
    return (
        cc.join(rep, "component")
        .select(
            "name",
            F.col("component_name").alias("component"),
            F.col("component_size").cast("long").alias("component_size"),
        )
    )


def q_triangle_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.graph.triangles import triangle_total

    g = _graph(spark, sf_dir, symmetric=False)
    n = triangle_total(g)
    return spark.createDataFrame([(n,)], "triangles long")


def q_triangles_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.graph.triangles import triangle_count

    g = _graph(spark, sf_dir, symmetric=False)
    return triangle_count(g).select("name", "triangles")


def q_lpa_round1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.graph.lpa import label_propagation

    g = _graph(spark, sf_dir, symmetric=False, min_weight=2)
    res = label_propagation(g, max_rounds=1)
    lab = g.vocab.select(F.col("id").alias("label"), F.col("name").alias("label_name"))
    return res.join(lab, "label").select("name", F.col("label_name").alias("label"))


def _pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tpch_graph.load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("grp"),
        F.col("l_linenumber").alias("ln"),
        F.concat(F.lit("t:"), tpch_graph.part_name("l_partkey")).alias("item"),
        F.col("l_extendedprice").alias("p"),
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.grp") == F.col("b.grp"))
            & (F.col("a.ln") != F.col("b.ln"))
            & (F.col("a.p") > F.col("b.p")),
        )
        .select(
            F.col("a.item").alias("winner"),
            F.col("b.item").alias("loser"),
            F.lit(1.0).alias("weight"),
            F.lit(0).cast("long").alias("period"),
        )
    )


def q_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.graph.tally import tally

    return tally(_pairwise(spark, sf_dir))


#: min_count for the filter_min_count oracle: measured at sf0.01 the
#: appearance distribution is 34..191 (median 102); 70 yields a 5-round
#: cascade to a NONTRIVIAL fixpoint (92,607 of 102,602 rows survive) —
#: low enough not to collapse, high enough to actually cascade
FMC_MIN_COUNT = 70
#: synchronized-removal rounds in the oracle CTE — must cover the longest
#: cascade (5 at sf0.01); extra rounds are no-ops (same device as
#: _KCORE_ROUNDS)
_FMC_ROUNDS = 16


def q_filter_min_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cascading endpoint-count filter to fixpoint (pairwise.rs:213-256);
    # oracle = recursive-CTE synchronized peel, like the k-core twin
    from propagon_spark.graph.tally import filter_min_count

    return filter_min_count(_pairwise(spark, sf_dir), FMC_MIN_COUNT)


def q_sha_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc(spark, sf_dir).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("sha")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.functions.dedup import exact_duplicates

    return exact_duplicates(_doc(spark, sf_dir))


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.functions.text import token_count

    d = _doc(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_t"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.functions.text import lang_id

    return lang_id(_doc(spark, sf_dir)).select("doc_id", "lang_pred")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LLM-pipeline quality scoring — pure Catalyst arithmetic, exact twin
    from propagon_spark.functions.text import quality_features

    out = quality_features(_doc(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_tokens"),
        F.round("mean_token_len", 9).alias("mean_token_len"),
        F.round("punct_ratio", 9).alias("punct_ratio"),
        F.round("stopword_ratio", 9).alias("stopword_ratio"),
        F.round("quality_score", 9).alias("quality_score"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Karp-Rabin rolling-hash min-sketch. The int64-wrapping polynomial
    # hash IS SQL-expressible after all: DuckDB HUGEINT Horner steps with
    # an explicit mod-2^64 after every multiply-add emulate numpy's
    # two's-complement wraparound exactly (see _fingerprint_sql).
    from propagon_spark.functions.text import fingerprint

    return fingerprint(_doc(spark, sf_dir)).select("doc_id", "fingerprint")


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.functions.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = cosine_topk(emb, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 9).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF in full-probe mode (nprobe = n_cells): candidate generation is
    # exhaustive, so the result is EXACTLY brute-force top-k — the same
    # SQL oracle as ann_cosine_topk gates the whole IVF plumbing
    # (k-means training, cell assignment, probe explode, cell join,
    # rescore, tie-break). Production-nprobe recall is measured by
    # bench.py's ivf_recall_eval harness.
    from propagon_spark.functions.similarity import ivf_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = ivf_cosine_topk(emb, k=5, n_cells=16, nprobe=16, sample_rows=10_000)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 9).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


EMB_LSH_PLANES = 4
EMB_LSH_TABLES = 8
EMB_LSH_THRESHOLD = 0.4


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH-bucketed candidate generation; rescoring is exact cosine,
    # pairs a < b. Round 5: the float64 signature path + plane-literal
    # replay (_embedding_neardup_lsh_sql) give the LSH path itself a
    # bit-exact DuckDB twin — no_oracle row retired (the exact-mode
    # twin below remains the all-pairs baseline)
    from propagon_spark.functions.similarity import embedding_near_duplicates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # the synthetic embeddings carry no true duplicates (max pairwise
    # cosine ~0.51), so the threshold is set low enough to exercise the
    # bucket → rescore → threshold path on real pairs
    out = embedding_near_duplicates(
        emb,
        threshold=EMB_LSH_THRESHOLD,
        num_planes=EMB_LSH_PLANES,
        num_tables=EMB_LSH_TABLES,
    )
    return out.select("a", "b", F.round("cosine", 9).alias("cosine"))


def q_embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact all-pairs mode: same Catalyst cosine expression, threshold
    # applied directly (no LSH candidate generation, no k cap) — the
    # oracle-checkable twin of the LSH path above (DuckDB
    # list_cosine_similarity over every a < b pair)
    from propagon_spark.functions.similarity import embedding_near_duplicates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = embedding_near_duplicates(emb, threshold=0.4, method="exact")
    return out.select("a", "b", F.round("cosine", 9).alias("cosine"))


def q_hits_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.graph.hits import hits

    g = _graph(spark, sf_dir, symmetric=False)
    res = hits(g, iterations=HITS_ITERS, tolerance=0.0)
    a = res.authorities.select("name", F.round("score", 9).alias("authority"))
    h = res.hubs.select("name", F.round("score", 9).alias("hub"))
    return a.join(h, "name")


def q_katz_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.graph.katz import katz

    g = _graph(spark, sf_dir, symmetric=False)
    out = katz(g, alpha=KATZ_ALPHA, iterations=KATZ_ITERS, tolerance=0.0)
    return out.select("name", F.round("score", 9).alias("score"))


def q_leader_rank_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.graph.leader_rank import leader_rank

    g = _graph(spark, sf_dir, symmetric=False)
    out = leader_rank(g, iterations=LR_ITERS, tolerance=0.0)
    return out.select("name", F.round("score", 9).alias("score"))


def q_pagerank_conv60(spark: SparkSession, sf_dir: str) -> DataFrame:
    # drives the CONVERGENCE-mode loop machinery (per-step delta
    # observation, lineage truncation) against a hard oracle: a
    # tolerance no power iteration reaches makes the loop run exactly
    # max_iterations steps, which a 60-step unrolled SQL twin reproduces
    from propagon_spark.graph.pagerank import pagerank

    g = _graph(spark, sf_dir, symmetric=True)
    res = pagerank(
        g, damping=DAMPING, sink="none", tol=1e-30,
        max_iterations=PR_CONV_STEPS,
    )
    return res.scores.select("name", F.round("score", 9).alias("score"))


def q_harmonic_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact depth-bounded harmonic (unit BFS, undirected) on the sparse
    # min_weight>=2 subgraph — SQL twin is a depth-capped recursive CTE
    from propagon_spark.graph.harmonic import harmonic

    g = _graph(spark, sf_dir, symmetric=False, min_weight=2)
    out = harmonic(g, "total", sample=None, max_depth=HARMONIC_DEPTH)
    return out.select("name", F.round("score", 9).alias("score"))


def q_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the TRUE variable-iteration convergence stop (L1 delta < tol), not a
    # fixed step count: the oracle unrolls PR_CONV_ITERS_SF001 power steps
    # (the measured sf0.01 stopping iteration) and sentinel-checks that
    # delta_k < tol <= delta_{k-1}, so a drifted stopping rule reports as
    # a loud marker-row mismatch, never as a plausible result
    from propagon_spark.graph.pagerank import pagerank

    g = _graph(spark, sf_dir, symmetric=True)
    res = pagerank(
        g, damping=DAMPING, sink="uniform", tol=PR_CONV_TOL, max_iterations=100
    )
    return res.scores.select("name", F.round("score", 9).alias("score"))


# ----- rows-only entries (no practical SQL twin; driver records a weaker
# ----- check and the judge sees which)


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.graph.kcore import kcore

    g = _graph(spark, sf_dir, symmetric=False, min_weight=2)
    return kcore(g).select("name", "coreness")


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact HUGEINT-arithmetic twin (see _minhash_pair_ctes): the whole
    # signature pipeline is deterministic integer math, so this is
    # oracle-checked, not rows-only
    from propagon_spark.functions.dedup import minhash_near_duplicates

    return minhash_near_duplicates(_doc(spark, sf_dir), threshold=MINHASH_THRESHOLD)


NGRAM_N = 3
NGRAM_THRESHOLD = 0.5


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.functions.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(
        _doc(spark, sf_dir), n=NGRAM_N, threshold=NGRAM_THRESHOLD,
        max_docs_per_gram=None,  # exact variant == the SQL twin
    )
    return out.select("a", "b", F.round("jaccard", 9).alias("jaccard"))


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 64-bit SimHash + 4-block pigeonhole bucket join; exact HUGEINT
    # twin in _simhash_neardup_sql (majority vote replayed per bit)
    from propagon_spark.functions.dedup import simhash_near_duplicates

    return simhash_near_duplicates(
        _doc(spark, sf_dir), max_hamming=SIMHASH_MAX_HAMMING
    )


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # minhash pairs → connected-components clusters; exact twin rides
    # the minhash CTEs + a recursive-CTE closure (_neardup_clusters_sql)
    from propagon_spark.functions.dedup import near_duplicate_clusters

    return near_duplicate_clusters(_doc(spark, sf_dir), threshold=MINHASH_THRESHOLD)


def _birank_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch_graph.load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("src"),
        F.col("l_partkey").alias("dst"),
        F.col("l_quantity").alias("weight"),
    )


BIRANK_RANDOM_ITERS = 10
BIRANK_RANDOM_SEED = 2019


def q_birank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bipartite supplier → part endorsements from lineitem (side-local id
    # spaces; the reference's default 10 iterations + seeded random init,
    # birank.rs:189-199). Round 5: the init is hash01(src_rank, 2019) =
    # xxhash64-derived, so the full random-init trajectory gets a
    # bit-exact DuckDB twin (_birank_random_sql) — the former tier-S
    # rows-only row is now oracle-green. (The dst-side init is dead
    # state: the first sweep overwrites p before reading it, so only the
    # src-side hash enters the trajectory — true in birank.rs too.)
    from propagon_spark.graph.birank import birank

    res = birank(
        _birank_input(spark, sf_dir),
        iterations=BIRANK_RANDOM_ITERS,
        seed=BIRANK_RANDOM_SEED,
    )
    return res.dst_scores.select(
        "name", F.round("score", 9).alias("score")
    )


BIRANK_UNIFORM_ITERS = 2


def q_birank_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    # init="uniform" parity mode: with no priors the sweep is pure
    # propagation (birank.rs:196-199), so the trajectory from a 1.0 start
    # is a plain linear recurrence with an unrolled SQL twin — the
    # oracle-checkable mode for the one graph kernel whose reference init
    # is RNG-bound
    from propagon_spark.graph.birank import birank

    res = birank(
        _birank_input(spark, sf_dir),
        iterations=BIRANK_UNIFORM_ITERS,
        init="uniform",
    )
    return res.dst_scores.select("name", F.round("score", 9).alias("score"))


BOOT_POIS_REPS = 8
BOOT_POIS_SEED = 42


def q_bootstrap_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bootstrap CIs over in-degree on the co-occurrence graph — Poisson
    # resampling, the DISTRIBUTED SCALE DEFAULT. Round 5: multiplicities
    # are drawn from xxhash64(src·2³¹+dst, seed+rep) instead of rand()
    # (whose substreams are partition-assigned), so the default path is
    # deterministic at any parallelism AND has a bit-exact DuckDB twin
    # (_bootstrap_degree_poisson_sql) — no_oracle row retired.
    from propagon_spark.graph.bootstrap import bootstrap
    from propagon_spark.graph.degree import degree

    g = _graph(spark, sf_dir, symmetric=False, min_weight=2)
    res = bootstrap(
        g,
        lambda rg: degree(rg, "in"),
        replicates=BOOT_POIS_REPS,
        seed=BOOT_POIS_SEED,
    )
    return res.intervals.select(
        "name",
        F.round("score_mean", 9).alias("score_mean"),
        F.round("score_lo", 9).alias("score_lo"),
        F.round("score_hi", 9).alias("score_hi"),
        F.round("rank_lo", 9).alias("rank_lo"),
        F.round("rank_hi", 9).alias("rank_hi"),
    )


BOOT_EXACT_REPS = 8
BOOT_EXACT_SEED = 42


def q_bootstrap_degree_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference's exact n-draw resample (resample.rs:87-95) is fully
    # deterministic — global name-ordered row numbering + xxhash64(i,
    # seed+rep) mod n draws — so the whole bootstrap pipeline (resample →
    # per-replicate degree fit → rank → exact percentile CIs) gets an
    # exact DuckDB twin via the same xxhash64 replay as harmonic_sampled
    from propagon_spark.graph.bootstrap import bootstrap
    from propagon_spark.graph.degree import degree

    g = _graph(spark, sf_dir, symmetric=False, min_weight=2)
    res = bootstrap(
        g,
        lambda rg: degree(rg, "in"),
        replicates=BOOT_EXACT_REPS,
        seed=BOOT_EXACT_SEED,
        method="exact",
    )
    return res.intervals.select(
        "name",
        F.round("score_mean", 9).alias("score_mean"),
        F.round("score_lo", 9).alias("score_lo"),
        F.round("score_hi", 9).alias("score_hi"),
        F.round("rank_lo", 9).alias("rank_lo"),
        F.round("rank_hi", 9).alias("rank_hi"),
    )


def q_harmonic_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sampled-source harmonic estimator on the sparse subgraph; depth-
    # bounded so the oracle's BFS closure CTE stays linear, and oracled
    # exactly: the xxhash64 source draw is replayed in DuckDB
    from propagon_spark.graph.harmonic import harmonic

    g = _graph(spark, sf_dir, symmetric=False, min_weight=2)
    out = harmonic(
        g,
        "total",
        sample=HARMONIC_SAMPLE_K,
        seed=HARMONIC_SAMPLED_SEED,
        max_depth=HARMONIC_SAMPLED_DEPTH,
    )
    return out.select("name", F.round("score", 9).alias("score"))


def q_harmonic_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixed-source harmonic estimator (parity mode for the sampled
    # estimator, same scaled n/k accumulation as harmonic.rs:167-204):
    # sources = the HARMONIC_SRC_K lexicographically smallest vertex
    # names, chosen so the oracle can derive the identical set in SQL.
    # Proves the estimator math exactly; only the hash draw itself stays
    # rows-only (q_harmonic_sampled above).
    from propagon_spark.graph.harmonic import harmonic

    g = _graph(spark, sf_dir, symmetric=False, min_weight=2)
    srcs = [
        r["name"]
        for r in g.vocab.select("name")
        .orderBy("name")
        .limit(HARMONIC_SRC_K)
        .collect()
    ]
    out = harmonic(g, "total", sources=srcs, max_depth=HARMONIC_DEPTH)
    return out.select("name", F.round("score", 9).alias("score"))


def q_rank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.graph.rank_centrality import rank_centrality

    out = rank_centrality(
        _pairwise(spark, sf_dir), iterations=RC_ITERS, tolerance=0.0
    )
    return out.select("name", F.round("score", 9).alias("score"))


def q_random_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    from propagon_spark.graph.random_walker import random_walker

    out = random_walker(
        _pairwise(spark, sf_dir), p=RW_BIAS, iterations=RW_ITERS, tolerance=0.0
    )
    return out.select("name", F.round("score", 9).alias("score"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "edge_derivation": q_edge_derivation,
        "degree_in": _degree("in"),
        "degree_out": _degree("out"),
        "degree_total": _degree("total"),
        "pagerank_k3": q_pagerank_k,
        "ppr_seeded_k3": q_ppr_seeded,
        "components_minw2": q_components,
        "triangle_total": q_triangle_total,
        "triangles_per_vertex": q_triangles_per_vertex,
        "lpa_round1": q_lpa_round1,
        "tally": q_tally,
        "filter_min_count": q_filter_min_count,
        "sha_invariant": q_sha_invariant,
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "doc_fingerprint": q_fingerprint,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_exact": q_embedding_neardup_exact,
        "pagerank_conv60": q_pagerank_conv60,
        "hits_k2": q_hits_k,
        "katz_k3": q_katz_k,
        "leader_rank_k3": q_leader_rank_k,
        "harmonic_bfs_d4": q_harmonic_bfs,
        "rank_centrality": q_rank_centrality,
        "random_walker": q_random_walker,
        "pagerank_converged": q_pagerank_converged,
        "kcore_minw2": q_kcore,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_neardup": q_minhash_neardup,
        "simhash_neardup": q_simhash_neardup,
        "neardup_clusters": q_neardup_clusters,
        "birank_supplier_part": q_birank,
        "birank_uniform_k2": q_birank_uniform,
        "bootstrap_degree_ci": q_bootstrap_degree,
        "bootstrap_degree_ci_exact": q_bootstrap_degree_exact,
        "harmonic_sampled": q_harmonic_sampled,
        "harmonic_src64": q_harmonic_sources,
    }


# ---------------------------------------------------------- oracle SQL


def _pr_unrolled(
    damping: float, iters: int, seeded: bool, sentinel_tol: float | None = None
) -> str:
    """Generate DuckDB SQL unrolling `iters` PageRank power steps over the
    deduplicated symmetric co-occurrence graph (no sinks by symmetry).

    ``sentinel_tol`` set => twin for the CONVERGED kernel (tol-based
    variable-iteration stop): ``iters`` must be the kernel's measured
    stopping iteration at the compared scale factor, and the emitted SQL
    appends a sentinel marker row whenever the unrolled deltas contradict
    that calibration (L1(r_k - r_{k-1}) >= tol, or
    L1(r_{k-1} - r_{k-2}) < tol, i.e. the kernel would have stopped at a
    different step) — the oracle then fails LOUD as a row-count mismatch
    naming the fix, never silently plausible (same device as the
    _FMC_ROUNDS saturation guard)."""
    v = (
        "CASE WHEN v.id = (SELECT min(id) FROM v) THEN 1.0 ELSE 0.0 END"
        if seeded
        else "(1.0/(SELECT c FROM n))"
    )
    v0 = v.replace("v.id", "id") if seeded else v
    sql = [
        f"WITH {ORACLE_EDGES_CTE},",
        "e AS MATERIALIZED (SELECT src, dst FROM pairs"
        " UNION ALL SELECT dst, src FROM pairs),",
        "v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),",
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM v),",
        "deg AS MATERIALIZED (SELECT src AS id,"
        " CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY 1),",
        f"r0 AS (SELECT id, {v0} AS rank FROM v),",
    ]
    for k in range(1, iters + 1):
        sql.append(
            f"g{k} AS MATERIALIZED (SELECT e.dst AS id, sum(r.rank/d.outdeg) AS m "
            f"FROM e JOIN r{k-1} r ON e.src = r.id JOIN deg d ON e.src = d.id "
            f"GROUP BY 1),"
        )
        sql.append(
            f"r{k} AS MATERIALIZED (SELECT v.id, {damping}*coalesce(g{k}.m, 0.0) "
            f"+ {1.0 - damping}*{v} AS rank "
            f"FROM v LEFT JOIN g{k} ON v.id = g{k}.id),"
        )
    sql[-1] = sql[-1].rstrip(",")
    sql.append(f"SELECT id AS name, ROUND(rank, 9) AS score FROM r{iters}")
    if sentinel_tol is not None:
        if iters < 2:
            raise ValueError("sentinel twin needs iters >= 2")
        sql.append(f"""UNION ALL
SELECT 'PR_CONV_ORACLE_STALE' AS name, -1.0 AS score
WHERE NOT (
  (SELECT sum(abs(a.rank - b.rank)) FROM r{iters} a
   JOIN r{iters - 1} b ON a.id = b.id) < {sentinel_tol}
  AND (SELECT sum(abs(a.rank - b.rank)) FROM r{iters - 1} a
   JOIN r{iters - 2} b ON a.id = b.id) >= {sentinel_tol}
)""")
    return "\n".join(sql)


def _hits_unrolled(iters: int) -> str:
    """Unrolled HITS power steps (dedup'd directed edges; per-step L1
    normalization of both vectors; refreshed authorities feed hubs —
    mirrors ``hits.rs:111-181`` / propagon_spark/graph/hits.py)."""
    sql = [
        f"WITH {ORACLE_EDGES_CTE},",
        "e AS (SELECT src, dst FROM pairs),",
        "v AS (SELECT DISTINCT nm AS id FROM (SELECT src AS nm FROM e"
        " UNION ALL SELECT dst FROM e) u),",
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM v),",
        "s0 AS (SELECT id, 1.0/(SELECT c FROM n) AS a,"
        " 1.0/(SELECT c FROM n) AS h FROM v),",
    ]
    for k in range(1, iters + 1):
        sql += [
            f"ar{k} AS MATERIALIZED (SELECT e.dst AS id, sum(s.h) AS ar FROM e"
            f" JOIN s{k-1} s ON e.src = s.id GROUP BY 1),",
            f"a{k} AS MATERIALIZED (SELECT v.id, coalesce(ar{k}.ar, 0.0)"
            f"/(SELECT sum(ar) FROM ar{k}) AS a"
            f" FROM v LEFT JOIN ar{k} ON v.id = ar{k}.id),",
            f"hr{k} AS MATERIALIZED (SELECT e.src AS id, sum(x.a) AS hr FROM e"
            f" JOIN a{k} x ON e.dst = x.id GROUP BY 1),",
            f"s{k} AS MATERIALIZED (SELECT v.id, a{k}.a, coalesce(hr{k}.hr, 0.0)"
            f"/(SELECT sum(hr) FROM hr{k}) AS h"
            f" FROM v JOIN a{k} ON v.id = a{k}.id"
            f" LEFT JOIN hr{k} ON v.id = hr{k}.id),",
        ]
    sql[-1] = sql[-1].rstrip(",")
    sql.append(
        f"SELECT id AS name, ROUND(a, 9) AS authority, ROUND(h, 9) AS hub"
        f" FROM s{iters}"
    )
    return "\n".join(sql)


def _katz_unrolled(alpha: float, iters: int) -> str:
    """Unrolled Katz steps ``x ← 1 + α·Aᵀx`` (weighted, no dedup;
    ``katz.rs:58-112`` / propagon_spark/graph/katz.py)."""
    sql = [
        f"WITH {ORACLE_EDGES_CTE},",
        "v AS (SELECT DISTINCT nm AS id FROM (SELECT src AS nm FROM pairs"
        " UNION ALL SELECT dst FROM pairs) u),",
        "x0 AS (SELECT id, 1.0 AS x FROM v),",
    ]
    for k in range(1, iters + 1):
        sql.append(
            f"x{k} AS MATERIALIZED (SELECT v.id, 1.0 + {alpha}*coalesce(g.m, 0.0) AS x"
            f" FROM v LEFT JOIN (SELECT p.dst AS id, sum(p.weight * x.x) AS m"
            f" FROM pairs p JOIN x{k-1} x ON p.src = x.id GROUP BY 1) g"
            f" ON v.id = g.id),"
        )
    sql[-1] = sql[-1].rstrip(",")
    sql.append(f"SELECT id AS name, ROUND(x - 1.0, 9) AS score FROM x{iters}")
    return "\n".join(sql)


def _leader_rank_unrolled(iters: int) -> str:
    """Unrolled LeaderRank walk on the ground-node-augmented graph
    (``leader_rank.rs:67-138`` / propagon_spark/graph/leader_rank.py):
    uniform random walk over dedup'd edges + bidirectional ground links,
    then the ground's mass folded back evenly."""
    sql = [
        f"WITH {ORACLE_EDGES_CTE},",
        "e0 AS (SELECT src, dst FROM pairs),",
        "v AS (SELECT DISTINCT nm AS id FROM (SELECT src AS nm FROM e0"
        " UNION ALL SELECT dst FROM e0) u),",
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM v),",
        "e AS (SELECT src, dst FROM e0"
        " UNION ALL SELECT id, '__ground__' FROM v"
        " UNION ALL SELECT '__ground__', id FROM v),",
        "deg AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS outdeg"
        " FROM e GROUP BY 1),",
        "av AS (SELECT id FROM v UNION ALL SELECT '__ground__'),",
        "p0 AS (SELECT id, 1.0/((SELECT c FROM n) + 1.0) AS pi FROM av),",
    ]
    for k in range(1, iters + 1):
        sql.append(
            f"p{k} AS MATERIALIZED (SELECT av.id, coalesce(g.m, 0.0) AS pi FROM av"
            f" LEFT JOIN (SELECT e.dst AS id, sum(p.pi / d.outdeg) AS m"
            f" FROM e JOIN p{k-1} p ON e.src = p.id"
            f" JOIN deg d ON e.src = d.id GROUP BY 1) g ON av.id = g.id),"
        )
    sql[-1] = sql[-1].rstrip(",")
    sql.append(
        f"SELECT p.id AS name, ROUND(p.pi +"
        f" (SELECT pi FROM p{iters} WHERE id = '__ground__')"
        f"/(SELECT c FROM n), 9) AS score"
        f" FROM p{iters} p WHERE p.id <> '__ground__'"
    )
    return "\n".join(sql)


#: pairwise (winner, loser, weight=1) derivation shared by the tally /
#: rank-centrality / random-walker oracles (matches ``_pairwise``)
_PAIRWISE_CTE = """li2 AS (SELECT l_orderkey AS grp, l_linenumber AS ln,
    concat('t:', lpad(CAST(l_partkey AS VARCHAR), 8, '0')) AS item,
    l_extendedprice AS p FROM lineitem),
pw AS (SELECT a.item AS winner, b.item AS loser, 1.0 AS x
       FROM li2 a JOIN li2 b
       ON a.grp = b.grp AND a.ln <> b.ln AND a.p > b.p)"""

#: unordered-pair win totals shared by rank-centrality / random-walker
#: (names are zero-padded so least/greatest on names == on dense ids)
_UPAIR_CTE = """wins AS (SELECT winner AS a, loser AS b, sum(x) AS wab
        FROM pw GROUP BY 1, 2),
upt AS (SELECT least(a, b) AS lo, greatest(a, b) AS hi,
            sum(CASE WHEN a < b THEN wab ELSE 0.0 END) AS wlh,
            sum(CASE WHEN a > b THEN wab ELSE 0.0 END) AS whl,
            sum(wab) AS t
        FROM wins GROUP BY 1, 2),
v AS (SELECT DISTINCT nm AS id FROM (SELECT winner AS nm FROM pw
      UNION ALL SELECT loser FROM pw) u),
n AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM v)"""


def _walk_steps(iters: int) -> str:
    """Shared unrolled power-iteration tail: p_{k} from trans/stay/p_{k-1}.

    Each step references the previous one twice (self-loop term + gather),
    so the step CTEs are MATERIALIZED — DuckDB would otherwise inline
    them, expanding the plan 2^iters-fold.
    """
    sql = []
    for k in range(1, iters + 1):
        sql.append(
            f"p{k} AS MATERIALIZED (SELECT st.id, pp.pi*st.stay + coalesce(g.m, 0.0) AS pi"
            f" FROM stay st JOIN p{k-1} pp ON st.id = pp.id"
            f" LEFT JOIN (SELECT t.dst AS id, sum(t.p * pp.pi) AS m"
            f" FROM trans t JOIN p{k-1} pp ON t.src = pp.id GROUP BY 1) g"
            f" ON st.id = g.id),"
        )
    sql[-1] = sql[-1].rstrip(",")
    sql.append(f"SELECT id AS name, ROUND(pi, 9) AS score FROM p{iters}")
    return "\n".join(sql)


def _rank_centrality_unrolled(iters: int) -> str:
    """Unrolled Negahban-Oh-Shah walk (``rank_centrality.rs:52-140`` /
    propagon_spark/graph/rank_centrality.py)."""
    return f"""WITH {_PAIRWISE_CTE},
{_UPAIR_CTE},
deg AS (SELECT id, CAST(count(*) AS DOUBLE) AS deg FROM
        (SELECT lo AS id FROM upt UNION ALL SELECT hi FROM upt) d GROUP BY 1),
dmax AS (SELECT max(deg) AS m FROM deg),
trans AS MATERIALIZED (
          SELECT lo AS src, hi AS dst, whl/(t*(SELECT m FROM dmax)) AS p
          FROM upt WHERE t > 0
          UNION ALL
          SELECT hi, lo, wlh/(t*(SELECT m FROM dmax)) FROM upt WHERE t > 0),
stay AS MATERIALIZED (
         SELECT v.id, 1.0 - coalesce(lv.s, 0.0) AS stay FROM v LEFT JOIN
         (SELECT src AS id, sum(p) AS s FROM trans GROUP BY 1) lv
         ON v.id = lv.id),
p0 AS (SELECT id, 1.0/(SELECT c FROM n) AS pi FROM v),
{_walk_steps(iters)}"""


def _random_walker_unrolled(p: float, iters: int) -> str:
    """Unrolled biased-walker chain (``random_walker.rs:34-140`` /
    propagon_spark/graph/random_walker.py)."""
    return f"""WITH {_PAIRWISE_CTE},
{_UPAIR_CTE},
games AS (SELECT id, sum(x) AS g FROM (SELECT winner AS id, x FROM pw
          UNION ALL SELECT loser, x FROM pw) u GROUP BY 1),
upg AS (SELECT upt.lo, upt.hi, upt.wlh, upt.whl, gl.g AS glo, gh.g AS ghi
        FROM upt JOIN games gl ON upt.lo = gl.id
        JOIN games gh ON upt.hi = gh.id),
trans AS MATERIALIZED (
          SELECT lo AS src, hi AS dst, ({p}*whl + {1.0 - p}*wlh)/glo AS p
          FROM upg
          UNION ALL
          SELECT hi, lo, ({p}*wlh + {1.0 - p}*whl)/ghi FROM upg),
stay AS MATERIALIZED (
         SELECT v.id, 1.0 - coalesce(lv.s, 0.0) AS stay FROM v LEFT JOIN
         (SELECT src AS id, sum(p) AS s FROM trans GROUP BY 1) lv
         ON v.id = lv.id),
p0 AS (SELECT id, 1.0/(SELECT c FROM n) AS pi FROM v),
{_walk_steps(iters)}"""


def _filter_min_count_sql(min_count: int, rounds: int) -> str:
    """Cascading filter_min_count as a recursive CTE (same synchronized-
    removal device as the k-core peel twin): the working table is the
    surviving ENTITY set; one remove-all-below-min_count round per
    recursion step (HAVING over the multigraph incidence self-join),
    ``rounds`` rounds (no-ops once the cascade converges); final rows =
    pairwise rows whose both endpoints survive round ``rounds``. Mirrors
    tally.filter_min_count / pairwise.rs:213-256.

    Saturation guard: ``rounds`` is calibrated to the sf0.01 cascade
    depth (5), and a deeper cascade at a larger scale factor would make
    this fixed-round oracle silently disagree with the library's
    run-to-fixpoint loop. The trailing sentinel UNION emits a marker row
    whenever round ``rounds`` still differs from round ``rounds-1`` —
    a non-converged oracle now reports as a LOUD row-count/hash mismatch
    naming the fix (raise _FMC_ROUNDS), never as a plausible result."""
    return f"""WITH RECURSIVE li2 AS (SELECT l_orderkey AS grp, l_linenumber AS ln,
    concat('t:', lpad(CAST(l_partkey AS VARCHAR), 8, '0')) AS item,
    l_extendedprice AS p FROM lineitem),
pw AS MATERIALIZED (SELECT a.item AS winner, b.item AS loser
       FROM li2 a JOIN li2 b
       ON a.grp = b.grp AND a.ln <> b.ln AND a.p > b.p),
me AS MATERIALIZED (SELECT winner AS a, loser AS b FROM pw
      UNION ALL SELECT loser, winner FROM pw),
surv(r, id) AS (
    SELECT 0, nm FROM (SELECT DISTINCT a AS nm FROM me) e0
    UNION ALL
    SELECT f.r + 1, f.id
    FROM surv f JOIN me e ON e.a = f.id JOIN surv g ON g.id = e.b
    WHERE f.r < {rounds}
    GROUP BY f.r, f.id
    HAVING count(*) >= {min_count}
)
SELECT p.winner, p.loser, 1.0 AS weight, CAST(0 AS BIGINT) AS period
FROM pw p
JOIN (SELECT id FROM surv WHERE r = {rounds}) w ON w.id = p.winner
JOIN (SELECT id FROM surv WHERE r = {rounds}) l ON l.id = p.loser
UNION ALL
SELECT 'FMC_ORACLE_NOT_CONVERGED', 'RAISE__FMC_ROUNDS', -1.0,
       CAST(-1 AS BIGINT)
WHERE (SELECT count(*) FROM surv WHERE r = {rounds})
   <> (SELECT count(*) FROM surv WHERE r = {rounds - 1})"""


def _birank_uniform_sql(iters: int) -> str:
    """Unrolled BiRank sweeps from a uniform (all-ones) start: sqrt-degree
    normalized alternating gathers, no priors (pure propagation,
    ``birank.rs:196-199`` / propagon_spark/graph/birank.py). Returns the
    dst (part) side after ``iters`` full sweeps."""
    sql = [
        "WITH e AS MATERIALIZED (SELECT CAST(l_suppkey AS VARCHAR) AS s,"
        " CAST(l_partkey AS VARCHAR) AS d,"
        " CAST(l_quantity AS DOUBLE) AS w FROM lineitem),",
        "dsx AS (SELECT s, sqrt(sum(w)) AS ds FROM e GROUP BY 1),",
        "ddx AS (SELECT d, sqrt(sum(w)) AS dd FROM e GROUP BY 1),",
        "en AS MATERIALIZED (SELECT e.s, e.d, sum(e.w/(dsx.ds*ddx.dd)) AS nw"
        " FROM e JOIN dsx ON e.s = dsx.s JOIN ddx ON e.d = ddx.d"
        " GROUP BY 1, 2),",
        "u0 AS (SELECT DISTINCT s, 1.0 AS u FROM e),",
    ]
    for k in range(1, iters + 1):
        sql.append(
            f"p{k} AS MATERIALIZED (SELECT en.d, sum(en.nw * u{k-1}.u) AS p"
            f" FROM en JOIN u{k-1} ON en.s = u{k-1}.s GROUP BY 1),"
        )
        sql.append(
            f"u{k} AS MATERIALIZED (SELECT en.s, sum(en.nw * p{k}.p) AS u"
            f" FROM en JOIN p{k} ON en.d = p{k}.d GROUP BY 1),"
        )
    sql[-1] = sql[-1].rstrip(",")
    sql.append(f"SELECT d AS name, ROUND(p, 9) AS score FROM p{iters}")
    return "\n".join(sql)


def _birank_random_sql(iters: int, seed: int) -> str:
    """Unrolled BiRank sweeps from the reference's SEEDED RANDOM start
    (``birank.rs:189-199`` semantics, engine stream): u₀[s] =
    ``xxhash64(rank(s), seed)/2⁶⁴ + 0.5`` replayed bit-exactly via the
    xxhash64 CTE chain (ids are name ranks — ids.py order-preserving
    vocab), then the same sqrt-degree-normalized alternating gathers as
    the uniform twin. The dst-side init is dead state (the first sweep
    writes p before reading it), so one hash chain suffices."""
    sql = [
        "WITH e AS MATERIALIZED (SELECT CAST(l_suppkey AS VARCHAR) AS s,"
        " CAST(l_partkey AS VARCHAR) AS d,"
        " CAST(l_quantity AS DOUBLE) AS w FROM lineitem),",
        "sv AS (SELECT s, CAST(row_number() OVER (ORDER BY s) - 1"
        " AS BIGINT) AS sid FROM (SELECT DISTINCT s FROM e) t),",
        _xxhash64_pair_ctes("sv", "sid", seed=seed, prefix="rh") + ",",
        "u0 AS MATERIALIZED (SELECT s, CAST(hx AS DOUBLE)"
        " / 18446744073709551616.0 + 0.5 AS u FROM rhh),",
        "dsx AS (SELECT s, sqrt(sum(w)) AS ds FROM e GROUP BY 1),",
        "ddx AS (SELECT d, sqrt(sum(w)) AS dd FROM e GROUP BY 1),",
        "en AS MATERIALIZED (SELECT e.s, e.d, sum(e.w/(dsx.ds*ddx.dd)) AS nw"
        " FROM e JOIN dsx ON e.s = dsx.s JOIN ddx ON e.d = ddx.d"
        " GROUP BY 1, 2),",
    ]
    for k in range(1, iters + 1):
        sql.append(
            f"p{k} AS MATERIALIZED (SELECT en.d, sum(en.nw * u{k-1}.u) AS p"
            f" FROM en JOIN u{k-1} ON en.s = u{k-1}.s GROUP BY 1),"
        )
        sql.append(
            f"u{k} AS MATERIALIZED (SELECT en.s, sum(en.nw * p{k}.p) AS u"
            f" FROM en JOIN p{k} ON en.d = p{k}.d GROUP BY 1),"
        )
    sql[-1] = sql[-1].rstrip(",")
    sql.append(f"SELECT d AS name, ROUND(p, 9) AS score FROM p{iters}")
    return "\n".join(sql)


def _harmonic_bfs_sql(depth: int) -> str:
    """Depth-capped exact harmonic over the undirected min-weight>=2
    subgraph: recursive BFS closure, min distance per (source, node),
    score[i] = Σ 1/d over reachers (propagon_spark/graph/harmonic.py)."""
    return f"""WITH RECURSIVE {ORACLE_EDGES_CTE},
ce AS (SELECT src, dst FROM pairs WHERE weight >= 2),
se AS (SELECT src, dst FROM ce UNION SELECT dst, src FROM ce),
v AS (SELECT DISTINCT src AS id FROM se),
walk(s, nd, d) AS (
    SELECT id, id, 0 FROM v
    UNION
    SELECT w.s, se.dst, w.d + 1 FROM walk w JOIN se ON se.src = w.nd
    WHERE w.d < {depth}
),
mind AS (SELECT s, nd, min(d) AS d FROM walk GROUP BY 1, 2),
sc AS (SELECT nd AS id, sum(1.0/d) AS h FROM mind WHERE d > 0 GROUP BY 1)
SELECT v.id AS name, ROUND(coalesce(sc.h, 0.0), 9) AS score
FROM v LEFT JOIN sc USING (id)"""


def _harmonic_sources_sql(depth: int, k: int) -> str:
    """SQL twin of the fixed-source scaled harmonic estimator: BFS from
    the ``k`` lexicographically smallest vertices, per-(node, depth)
    reacher counts divided by depth and folded in ascending depth
    (propagon_spark/graph/harmonic.py sums 1/d per pair instead; the
    two agree to the 9 rounded digits), then scaled by n/k like the
    estimator (harmonic.rs:167-204)."""
    return f"""WITH RECURSIVE {ORACLE_EDGES_CTE},
ce AS (SELECT src, dst FROM pairs WHERE weight >= 2),
se AS (SELECT src, dst FROM ce UNION SELECT dst, src FROM ce),
v AS (SELECT DISTINCT src AS id FROM se),
s{k} AS (SELECT id FROM v ORDER BY id LIMIT {k}),
walk(s, nd, d) AS (
    SELECT id, id, 0 FROM s{k}
    UNION
    SELECT w.s, se.dst, w.d + 1 FROM walk w JOIN se ON se.src = w.nd
    WHERE w.d < {depth}
),
mind AS (SELECT s, nd, min(d) AS d FROM walk GROUP BY 1, 2),
perd AS (SELECT nd AS id, d, CAST(count(*) AS DOUBLE) / d AS hh
         FROM mind WHERE d > 0 GROUP BY 1, 2),
sc AS (SELECT id, sum(hh ORDER BY d) AS h FROM perd GROUP BY 1),
scale AS (SELECT CAST(count(*) AS DOUBLE) / {k}.0 AS f FROM v)
SELECT v.id AS name,
       ROUND(coalesce(sc.h, 0.0) * (SELECT f FROM scale), 9) AS score
FROM v LEFT JOIN sc USING (id)"""


# Spark xxhash64 replay: F.xxhash64(long_col, F.lit(int32)) folds its
# children left-to-right from seed 42 — hashInt(lit, hashLong(col, 42))
# (Spark sql/catalyst XXH64.hashLong/hashInt). The DuckDB twin chains
# one CTE per hash stage (NOT lateral aliases: DuckDB's binder inlines
# alias references textually, and the chain's repeated operands would
# blow the expression tree up exponentially); 64x64-bit multiplies are
# split into 32-bit halves so no intermediate overflows INT128. The
# Python model behind this encoding is verified against live Spark in
# scripts/dev_xxhash_model.py; the SQL is verified against the model
# over 200k ids in scripts/dev_xxhash_sql.py.
_XXH_M = 1 << 64
_XXH_MH = f"{_XXH_M}::HUGEINT"
_XXH_B32 = 1 << 32
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _xxh_mul(x: str, c: int) -> str:
    """(x*c) mod 2^64 in HUGEINT without INT128 overflow."""
    return (
        f"(({x} % {_XXH_B32}::HUGEINT) * {c}::HUGEINT"
        f" + ((({x} // {_XXH_B32}::HUGEINT) * {c}::HUGEINT)"
        f" % {_XXH_B32}::HUGEINT) * {_XXH_B32}::HUGEINT) % {_XXH_MH}"
    )


def _xxh_rotl(x: str, r: int) -> str:
    return (
        f"(({x} * {1 << r}::HUGEINT) % {_XXH_MH}"
        f" + {x} // {1 << (64 - r)}::HUGEINT)"
    )


def _xxh_xorshr(x: str, r: int) -> str:
    """fmix xor-shift step x ^ (x >> r); xor runs in UBIGINT."""
    return (
        f"CAST(xor(CAST({x} AS UBIGINT), "
        f"CAST({x} // {1 << r}::HUGEINT AS UBIGINT)) AS HUGEINT)"
    )


def _xxhash64_pair_ctes(
    src_cte: str,
    id_col: str,
    seed: int | None = None,
    seed_col: str | None = None,
    prefix: str = "x",
) -> str:
    """CTE chain ``{prefix}0..{prefix}11,{prefix}h`` where ``{prefix}h``
    carries every column of ``src_cte`` plus ``hx`` = Spark's signed-long
    ``F.xxhash64(F.col(id_col), F.lit(seed))``. Pass ``seed`` for a
    constant literal, or ``seed_col`` (a non-negative int32-ranged
    column of ``src_cte``) for per-row seeds (e.g. per-replicate
    ``base_seed + rep``).

    PRECONDITION: ``id_col`` must be **non-negative** (as must
    ``seed_col``). DuckDB's ``%`` and ``//`` truncate toward zero, so a
    negative id diverges from Spark's two's-complement wrap and the
    replay silently produces wrong hashes. All call sites feed
    vocab-rank / draw-index / replicate columns, which are >= 0 by
    construction. Pass ``prefix`` to chain several independent hashes in
    one query (the stage CTE names collide otherwise)."""
    c1 = (42 + _XXH_P5 + 8) % _XXH_M  # hashLong initial acc
    c2 = (_XXH_P5 + 4) % _XXH_M  # hashInt length term
    if seed_col is not None:
        # seed_col < 2^31, so seed*P1 fits INT128 without the split
        ks = (
            f"(CAST({seed_col} AS HUGEINT) * {_XXH_P1}::HUGEINT)"
            f" % {_XXH_MH}"
        )
    else:
        ks = f"{(seed * _XXH_P1) % _XXH_M}::HUGEINT"  # constant-folded
    steps = [
        f"SELECT *, {ks} AS ks FROM {src_cte}",
        f"SELECT *, {_xxh_mul(f'CAST({id_col} AS HUGEINT)', _XXH_P2)} AS t"
        " FROM x0",
        f"SELECT *, {_xxh_mul(_xxh_rotl('t', 31), _XXH_P1)} AS k1 FROM x1",
        f"SELECT *, CAST(xor(CAST(k1 AS UBIGINT), {c1}::UBIGINT)"
        " AS HUGEINT) AS u1 FROM x2",
        f"SELECT *, ({_xxh_mul(_xxh_rotl('u1', 27), _XXH_P1)}"
        f" + {_XXH_P4}::HUGEINT) % {_XXH_MH} AS u2 FROM x3",
        f"SELECT *, {_xxh_mul(_xxh_xorshr('u2', 33), _XXH_P2)} AS u3 FROM x4",
        f"SELECT *, {_xxh_mul(_xxh_xorshr('u3', 29), _XXH_P3)} AS u4 FROM x5",
        f"SELECT *, ({_xxh_xorshr('u4', 32)} + {c2}::HUGEINT) % {_XXH_MH}"
        " AS g0 FROM x6",
        "SELECT *, CAST(xor(CAST(g0 AS UBIGINT), CAST(ks AS UBIGINT))"
        " AS HUGEINT) AS g1 FROM x7",
        f"SELECT *, ({_xxh_mul(_xxh_rotl('g1', 23), _XXH_P2)}"
        f" + {_XXH_P3}::HUGEINT) % {_XXH_MH} AS g2 FROM x8",
        f"SELECT *, {_xxh_mul(_xxh_xorshr('g2', 33), _XXH_P2)} AS g3 FROM x9",
        f"SELECT *, {_xxh_mul(_xxh_xorshr('g3', 29), _XXH_P3)} AS g4 FROM x10",
    ]
    if prefix != "x":
        # stage CTEs reference x0..x10 by name inside the step strings
        steps = [
            s.replace(" FROM x", f" FROM {prefix}") for s in steps
        ]
    ctes = ",\n".join(f"{prefix}{i} AS ({s})" for i, s in enumerate(steps))
    fin = _xxh_xorshr("g4", 32)
    return (
        f"{ctes},\n"
        f"{prefix}h AS (SELECT *, CAST({fin} - CASE WHEN {fin} >="
        f" {1 << 63}::HUGEINT THEN {_XXH_MH} ELSE 0::HUGEINT END"
        " AS BIGINT) AS hx FROM {pfx}11)".replace("{pfx}", prefix)
    )


def _harmonic_sampled_sql(depth: int, k: int, seed: int) -> str:
    """SQL twin of the SAMPLED-source harmonic estimator: replays the
    library's deterministic draw exactly — dense ids are name ranks
    (ids.py), sources are the ``k`` smallest ``xxhash64(id, seed)``
    (harmonic.py order-statistics sampling) — then the same scaled BFS
    estimator as ``_harmonic_sources_sql``. When the subgraph has
    ``n <= k`` vertices the LIMIT returns all of them and the scale
    collapses to 1.0, matching the library's exact-mode fallthrough."""
    return f"""WITH RECURSIVE {ORACLE_EDGES_CTE},
ce AS (SELECT src, dst FROM pairs WHERE weight >= 2),
se AS (SELECT src, dst FROM ce UNION SELECT dst, src FROM ce),
v AS (SELECT DISTINCT src AS id FROM se),
vv AS (SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT)
       AS vid FROM v),
{_xxhash64_pair_ctes('vv', 'vid', seed)},
srcs AS (SELECT id FROM xh ORDER BY hx, vid LIMIT {k}),
kk AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM srcs),
walk(s, nd, d) AS (
    SELECT id, id, 0 FROM srcs
    UNION
    SELECT w.s, se.dst, w.d + 1 FROM walk w JOIN se ON se.src = w.nd
    WHERE w.d < {depth}
),
mind AS (SELECT s, nd, min(d) AS d FROM walk GROUP BY 1, 2),
perd AS (SELECT nd AS id, d, CAST(count(*) AS DOUBLE) / d AS hh
         FROM mind WHERE d > 0 GROUP BY 1, 2),
sc AS (SELECT id, sum(hh ORDER BY d) AS h FROM perd GROUP BY 1),
scale AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM v)
                 / (SELECT c FROM kk) AS f)
SELECT v.id AS name,
       ROUND(coalesce(sc.h, 0.0) * (SELECT f FROM scale), 9) AS score
FROM v LEFT JOIN sc USING (id)"""


def _bootstrap_degree_exact_sql(reps: int, seed: int) -> str:
    """SQL twin of the exact-resample bootstrap over in-degree: replays
    resample_edges_exact (bootstrap.py) — id-typed edges numbered by a
    global (src, dst, weight) sort, draw i of replicate r picks row
    ``pmod(xxhash64(i, seed+r), n)`` — then the per-replicate degree fit
    over the FULL vocab (zeros for unsampled vertices, degree.py), the
    (desc score, asc name) rank, and exact type-7 percentile CIs
    (Spark F.percentile == DuckDB quantile_cont)."""
    return f"""WITH {ORACLE_EDGES_CTE},
ce AS (SELECT src, dst, weight FROM pairs WHERE weight >= 2),
v AS (SELECT DISTINCT nm AS name FROM
      (SELECT src AS nm FROM ce UNION ALL SELECT dst FROM ce) u),
vv AS (SELECT name, CAST(row_number() OVER (ORDER BY name) - 1 AS BIGINT)
       AS vid FROM v),
e AS (SELECT a.vid AS src, b.vid AS dst, ce.weight AS weight
      FROM ce JOIN vv a ON ce.src = a.name JOIN vv b ON ce.dst = b.name),
num AS MATERIALIZED (SELECT src, dst, weight,
       CAST(row_number() OVER (ORDER BY src, dst, weight) - 1 AS BIGINT)
       AS rn FROM e),
nn AS (SELECT count(*) AS c FROM num),
di AS (SELECT r.range AS rep, d.rn AS i,
       CAST({seed} + r.range AS BIGINT) AS s
       FROM range(0, {reps}) r CROSS JOIN (SELECT rn FROM num) d),
{_xxhash64_pair_ctes('di', 'i', seed_col='s')},
dr AS (SELECT rep, ((hx % (SELECT c FROM nn)) + (SELECT c FROM nn))
       % (SELECT c FROM nn) AS rn FROM xh),
mult AS (SELECT rep, rn, CAST(count(*) AS DOUBLE) AS m
         FROM dr GROUP BY 1, 2),
indeg AS (SELECT mult.rep, num.dst AS vid,
          sum(num.weight * mult.m) AS score
          FROM mult JOIN num USING (rn) GROUP BY 1, 2),
rr AS (SELECT range AS rep FROM range(0, {reps})),
fullsc AS (SELECT rr.rep, vv.name, coalesce(i.score, 0.0) AS score
           FROM rr CROSS JOIN vv
           LEFT JOIN indeg i ON i.rep = rr.rep AND i.vid = vv.vid),
rk AS (SELECT rep, name, score, CAST(row_number() OVER
       (PARTITION BY rep ORDER BY score DESC, name ASC) AS DOUBLE) AS rnk
       FROM fullsc)
SELECT name,
       ROUND(avg(score), 9) AS score_mean,
       ROUND(quantile_cont(score, 0.025), 9) AS score_lo,
       ROUND(quantile_cont(score, 0.975), 9) AS score_hi,
       ROUND(quantile_cont(rnk, 0.025), 9) AS rank_lo,
       ROUND(quantile_cont(rnk, 0.975), 9) AS rank_hi
FROM rk GROUP BY name"""


def _bootstrap_degree_poisson_sql(reps: int, seed: int) -> str:
    """SQL twin of the DEFAULT (distributed) Poisson bootstrap over
    in-degree: replays resample_edges (bootstrap.py) — per replicate r,
    each vid-typed edge's multiplicity is the Poisson(1) inverse-CDF of
    ``u = xxhash64(src·2³¹ + dst, seed+r)/2⁶⁴ + 0.5`` (int64→double is
    IEEE round-to-nearest in both engines, the scale is a power of two,
    and the CDF thresholds are the same shortest-round-trip doubles —
    bit-identical u and m) — then the same degree-fit → rank →
    type-7-percentile tail as _bootstrap_degree_exact_sql."""
    from propagon_spark.graph.bootstrap import _POIS_CDF

    chain = " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"""WITH {ORACLE_EDGES_CTE},
ce AS (SELECT src, dst, weight FROM pairs WHERE weight >= 2),
v AS (SELECT DISTINCT nm AS name FROM
      (SELECT src AS nm FROM ce UNION ALL SELECT dst FROM ce) u),
vv AS (SELECT name, CAST(row_number() OVER (ORDER BY name) - 1 AS BIGINT)
       AS vid FROM v),
e AS MATERIALIZED (SELECT a.vid AS src, b.vid AS dst, ce.weight AS weight
      FROM ce JOIN vv a ON ce.src = a.name JOIN vv b ON ce.dst = b.name),
di AS (SELECT r.range AS rep, e.src, e.dst, e.weight,
       e.src * 2147483648 + e.dst AS ek,
       CAST({seed} + r.range AS BIGINT) AS s
       FROM range(0, {reps}) r CROSS JOIN e),
{_xxhash64_pair_ctes('di', 'ek', seed_col='s')},
um AS MATERIALIZED (SELECT rep, dst, weight,
       CAST(hx AS DOUBLE) / 18446744073709551616.0 + 0.5 AS u FROM xh),
mult AS (SELECT rep, dst, weight, CASE {chain} ELSE 10 END AS m FROM um),
indeg AS (SELECT rep, dst AS vid, sum(weight * m) AS score
          FROM mult WHERE m > 0 GROUP BY 1, 2),
rr AS (SELECT range AS rep FROM range(0, {reps})),
fullsc AS (SELECT rr.rep, vv.name, coalesce(i.score, 0.0) AS score
           FROM rr CROSS JOIN vv
           LEFT JOIN indeg i ON i.rep = rr.rep AND i.vid = vv.vid),
rk AS (SELECT rep, name, score, CAST(row_number() OVER
       (PARTITION BY rep ORDER BY score DESC, name ASC) AS DOUBLE) AS rnk
       FROM fullsc)
SELECT name,
       ROUND(avg(score), 9) AS score_mean,
       ROUND(quantile_cont(score, 0.025), 9) AS score_lo,
       ROUND(quantile_cont(score, 0.975), 9) AS score_hi,
       ROUND(quantile_cont(rnk, 0.025), 9) AS rank_lo,
       ROUND(quantile_cont(rnk, 0.975), 9) AS rank_hi
FROM rk GROUP BY name"""


_DEGREE_ORACLE = {
    "in": "SELECT dst AS name, sum(weight) AS score FROM pairs GROUP BY 1",
    "out": "SELECT src AS name, sum(weight) AS score FROM pairs GROUP BY 1",
    "total": (
        "SELECT name, sum(w) AS score FROM ("
        "SELECT src AS name, weight AS w FROM pairs "
        "UNION ALL SELECT dst, weight FROM pairs) u GROUP BY 1"
    ),
}


def _degree_sql(direction: str) -> str:
    agg = _DEGREE_ORACLE[direction]
    return f"""WITH {ORACLE_EDGES_CTE},
v AS (SELECT DISTINCT name FROM (SELECT src AS name FROM pairs
      UNION ALL SELECT dst FROM pairs) u),
agg AS ({agg})
SELECT v.name, coalesce(agg.score, 0.0) AS score
FROM v LEFT JOIN agg USING (name)"""


_TRI_BASE = f"""WITH {ORACLE_EDGES_CTE},
c AS (SELECT src, dst FROM pairs),
t AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
      FROM c e1
      JOIN c e2 ON e2.src = e1.src AND e2.dst > e1.dst
      JOIN c e3 ON e3.src = e1.dst AND e3.dst = e2.dst)"""


_LANG_CASE = """CASE
  WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
  ELSE 'fr' END"""


def _marker_count_sql(words: list[str]) -> str:
    terms = [
        f"CAST((length(p) - length(replace(p, '{w}', ''))) / {len(w)} AS BIGINT)"
        for w in words
    ]
    return " + ".join(terms)


def _ngram_jaccard_sql(n: int, threshold: float) -> str:
    """SQL twin of the exact word-n-gram Jaccard pairs (dedup.py):
    regexp tokenize → list-comprehension n-grams → unnest inverted
    index → pair intersection counts → Jaccard."""
    return rf"""WITH toks AS MATERIALIZED (
    SELECT doc_id AS id,
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       x -> x <> '') AS w
    FROM documents),
grams AS MATERIALIZED (
    SELECT id,
           CASE WHEN len(w) >= {n} THEN
               list_distinct(list_transform(range(1, len(w) - {n} + 2),
                   i -> array_to_string(list_slice(w, i, i + {n} - 1), ' ')))
           ELSE [] END AS grams
    FROM toks),
sizes AS (SELECT id, len(grams) AS sz FROM grams),
inv AS MATERIALIZED (SELECT id, unnest(grams) AS g FROM grams),
pairs AS (SELECT x.id AS a, y.id AS b, CAST(count(*) AS DOUBLE) AS inter
          FROM inv x JOIN inv y ON x.g = y.g AND x.id < y.id
          GROUP BY 1, 2)
SELECT p.a, p.b,
       ROUND(p.inter / (sa.sz + sb.sz - p.inter), 9) AS jaccard
FROM pairs p
JOIN sizes sa ON p.a = sa.id
JOIN sizes sb ON p.b = sb.id
WHERE p.inter / (sa.sz + sb.sz - p.inter) >= {threshold}"""


def _fingerprint_sql() -> str:
    """SQL twin of the Karp-Rabin rolling-hash fingerprint (text.py
    ``_rolling_fingerprint_udf``): min SIGNED int64 of the degree-7
    polynomial hash h = Σ b[i+j]·B^(7−j) over every 8-byte window.

    numpy's int64 arithmetic wraps two's-complement, i.e. it IS unsigned
    arithmetic mod 2^64 reinterpreted as signed — so the twin runs the
    Horner recurrence in HUGEINT with an explicit ``% 2^64`` after every
    multiply-add (B^7 ≈ 1e42 would overflow even HUGEINT, so powers are
    never formed), then maps each window value to signed before the MIN.
    Byte values come from ``ord(substr(text, pos, 1))`` — identical to
    UTF-8 bytes for the all-ASCII driver corpus (verified: 0 multi-byte
    docs at every sf); a non-ASCII corpus would need a BLOB-level twin.
    Docs shorter than the 8-byte window fingerprint to 0 (text.py:123).
    """
    m = "18446744073709551616::HUGEINT"  # 2^64
    b = "1000003::HUGEINT"
    expr = "ord(substr(text, i, 1))::HUGEINT"
    for j in range(1, 8):
        expr = f"(({expr}) * {b} + ord(substr(text, i+{j}, 1))::HUGEINT) % {m}"
    return f"""WITH w AS (
    SELECT d.doc_id, d.text, t.i
    FROM documents d,
         LATERAL (SELECT unnest(range(1, length(d.text) - 6)) AS i) t
    WHERE length(d.text) >= 8),
h AS (
    SELECT doc_id,
           CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
                     THEN hu - {m} ELSE hu END AS BIGINT) AS hs
    FROM (SELECT doc_id, ({expr}) AS hu FROM w))
SELECT d.doc_id, COALESCE(m.fp, 0) AS fingerprint
FROM documents d
LEFT JOIN (SELECT doc_id, MIN(hs) AS fp FROM h GROUP BY 1) m USING (doc_id)"""


# ---- MinHash / SimHash near-dup twins ---------------------------------
#
# The near-dup paths (functions/dedup.py) are deterministic integer
# arithmetic end-to-end: a degree-4 FNV-prime polynomial shingle hash
# mod 2^64 (_shingle_set), affine (a·x+b) mod 2^64 mod (2^61−1) MinHash
# permutations with RandomState(42) constants, and majority-vote
# SimHash over the same shingle universe. DuckDB replays all of it in
# HUGEINT modular arithmetic — the same trick as _fingerprint_sql, and
# the same all-ASCII-corpus precondition (ord(substr()) == UTF-8 byte;
# verified 0 multibyte docs at every sf). The single non-emulatable op,
# xxhash64 band bucketing (dedup.py:124), is only an implementation
# detail of candidate generation: membership in the output depends on
# "all 4 signature values of some band are equal", which the twins test
# directly; a 64-bit xxhash collision between unequal band slices is
# the sole divergence mode (probability ~n²·bands/2^64).

_SHINGLE_K = 5
_MINHASH_NUM = 64
_MINHASH_BANDS = 16
_MINHASH_SEED = 42
MINHASH_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 8
_FNV_PRIME = 1099511628211
_M64 = "18446744073709551616::HUGEINT"  # 2^64


def _neardup_shingle_ctes() -> str:
    """CTEs ending in ``sh(doc_id, hu)``: distinct 5-byte-window FNV
    hashes per eligible doc, Horner recurrence with % 2^64 after every
    multiply-add (mirrors dedup.py _shingle_set's uint64 wraparound)."""
    expr = "ord(substr(text, i, 1))::HUGEINT"
    for j in range(1, _SHINGLE_K):
        expr = (
            f"(({expr}) * {_FNV_PRIME}::HUGEINT"
            f" + ord(substr(text, i+{j}, 1))::HUGEINT) % {_M64}"
        )
    return f"""elig AS (
    SELECT doc_id, text FROM documents WHERE length(text) >= {_SHINGLE_K}),
w AS (
    SELECT e.doc_id, e.text, t.i
    FROM elig e,
         LATERAL (SELECT unnest(range(1, length(e.text) - {_SHINGLE_K - 2}))
                  AS i) t),
sh AS (
    SELECT DISTINCT doc_id, ({expr}) AS hu FROM w)"""


def _minhash_pair_ctes() -> str:
    """CTE chain ending in ``est(a, b, est_jaccard)`` — the thresholded
    MinHash near-dup pairs. The (a, b) permutation constants are drawn
    from the SAME RandomState(42) stream _minhash_udf uses, so the twin
    stays in lockstep with dedup.py by construction."""
    import numpy as np

    from propagon_spark.functions.dedup import _MERSENNE

    rows = _MINHASH_NUM // _MINHASH_BANDS
    rng = np.random.RandomState(_MINHASH_SEED)
    pa = rng.randint(1, _MERSENNE, size=_MINHASH_NUM, dtype=np.int64)
    pb = rng.randint(0, _MERSENNE, size=_MINHASH_NUM, dtype=np.int64)
    perms = ",\n        ".join(
        f"({i}, {int(pa[i])}::HUGEINT, {int(pb[i])}::HUGEINT)"
        for i in range(_MINHASH_NUM)
    )
    band_cols = ",\n           ".join(
        f"MIN(CASE WHEN idx % {rows} = {r} THEN v END) AS v{r}"
        for r in range(rows)
    )
    band_keys = ", ".join(f"v{r}" for r in range(rows))
    return f"""{_neardup_shingle_ctes()},
perms(idx, pa, pb) AS (
    VALUES {perms}),
mh AS (
    SELECT sh.doc_id, p.idx,
           CAST(MIN((((p.pa * sh.hu) % {_M64} + p.pb) % {_M64})
                    % {_MERSENNE}::HUGEINT) AS BIGINT) AS v
    FROM sh CROSS JOIN perms p
    GROUP BY sh.doc_id, p.idx),
bnd AS (
    SELECT doc_id, idx // {rows} AS band,
           {band_cols}
    FROM mh GROUP BY doc_id, idx // {rows}),
cand AS (
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM bnd x JOIN bnd y USING (band, {band_keys})
    WHERE x.doc_id < y.doc_id),
est AS (
    SELECT c.a, c.b,
           SUM(CASE WHEN ma.v = mb.v THEN 1 ELSE 0 END) / {_MINHASH_NUM}.0
               AS est_jaccard
    FROM cand c
    JOIN mh ma ON ma.doc_id = c.a
    JOIN mh mb ON mb.doc_id = c.b AND mb.idx = ma.idx
    GROUP BY c.a, c.b
    HAVING est_jaccard >= {MINHASH_THRESHOLD})"""


def _minhash_neardup_sql() -> str:
    return f"""WITH {_minhash_pair_ctes()}
SELECT a, b, est_jaccard FROM est"""


def _simhash_neardup_sql() -> str:
    """SQL twin of simhash_near_duplicates(max_hamming=8): majority-vote
    64-bit SimHash over the shingle hashes, 4×16-bit block-bucket
    candidate join (NOT lossless at hamming 8 — pigeonhole only covers
    ≤3 — so the twin reproduces the block-sharing condition, not plain
    hamming ≤ 8), then exact two's-complement bit_count(xor) verify."""
    pows = ",\n        ".join(f"({i}, {1 << i}::HUGEINT)" for i in range(64))
    pow16 = ",\n        ".join(
        f"({i}, {1 << (16 * i)}::HUGEINT)" for i in range(4)
    )
    return f"""WITH {_neardup_shingle_ctes()},
nsh AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pw(bit, p2) AS (
    VALUES {pows}),
votes AS (
    SELECT sh.doc_id, pw.bit, pw.p2,
           SUM(CASE WHEN (sh.hu // pw.p2) % 2 = 1 THEN 1 ELSE 0 END) AS v
    FROM sh CROSS JOIN pw GROUP BY sh.doc_id, pw.bit, pw.p2),
sigu AS (
    SELECT v.doc_id,
           SUM(CASE WHEN v.v * 2 > n.n THEN v.p2 ELSE 0::HUGEINT END) AS su
    FROM votes v JOIN nsh n USING (doc_id) GROUP BY v.doc_id),
sigs AS (
    SELECT doc_id, su,
           CAST(CASE WHEN su >= 9223372036854775808::HUGEINT
                     THEN su - {_M64} ELSE su END AS BIGINT) AS sim
    FROM sigu),
blk(blk, p16) AS (
    VALUES {pow16}),
blocks AS (
    SELECT s.doc_id, s.sim, b.blk,
           CAST((s.su // b.p16) % 65536 AS BIGINT) AS key
    FROM sigs s CROSS JOIN blk b),
cand AS (
    SELECT DISTINCT x.doc_id AS a, x.sim AS ha, y.doc_id AS b, y.sim AS hb
    FROM blocks x JOIN blocks y ON x.blk = y.blk AND x.key = y.key
    WHERE x.doc_id < y.doc_id)
SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HAMMING}"""


def _neardup_clusters_sql() -> str:
    """SQL twin of near_duplicate_clusters: MinHash pairs → min-label
    transitive closure (recursive CTE, like the components twin) →
    min-STRING-id representative + size, singletons coalesced. The pair
    CTEs are MATERIALIZED — inlined they would re-run the whole MinHash
    pipeline on every recursion step. String ids mirror the operator's
    cast-to-string vocab (name-ordered dense ids ⇒ rep = min VARCHAR)."""
    return f"""WITH RECURSIVE {_minhash_pair_ctes()},
prs AS MATERIALIZED (
    SELECT CAST(a AS VARCHAR) AS a, CAST(b AS VARCHAR) AS b FROM est),
se AS MATERIALIZED (
    SELECT a AS s, b AS d FROM prs UNION SELECT b, a FROM prs),
vx AS (SELECT DISTINCT s AS id FROM se),
reach(id, r) AS (
    SELECT id, id FROM vx
    UNION
    SELECT se.d, reach.r FROM reach JOIN se ON se.s = reach.id),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS sz
          FROM comp GROUP BY component),
clustered AS (
    SELECT c.id AS did, c.component AS rep, s.sz
    FROM comp c JOIN sizes s USING (component))
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
       COALESCE(cl.rep, CAST(d.doc_id AS VARCHAR)) AS cluster_rep,
       COALESCE(cl.sz, 1::BIGINT) AS cluster_size
FROM documents d LEFT JOIN clustered cl ON CAST(d.doc_id AS VARCHAR) = cl.did"""


#: exact embedding near-dup pairs: every a < b pair with cosine >= 0.4
#: (thresholds/keys mirror q_embedding_neardup_exact)
_EMB_NEARDUP_EXACT_SQL = """WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT a.vec_id AS a, b.vec_id AS b,
       ROUND(list_cosine_similarity(a.emb, b.emb), 9) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4"""


def _embedding_neardup_lsh_sql(
    threshold: float,
    num_planes: int,
    num_tables: int,
    seed: int = 42,
    dim: int = 64,
) -> str:
    """SQL twin of the LSH near-dup path (similarity.py
    ``embedding_near_duplicates`` default): the random hyperplanes are
    regenerated HERE with the same ``numpy.RandomState(seed + 1000·t)``
    stream the signature UDF uses and inlined as literals, so DuckDB
    reproduces every signature bit — sign(embedding · plane) is stable
    across engines because both compute in float64 and the smallest
    |dot| on the test corpora is ~3e-6, 7+ orders above cross-engine
    summation drift (margin asserted in scripts/dev_neardup_oracle.py).
    Candidates = pairs co-bucketed in ≥1 table; rescore exact cosine;
    threshold; a < b. (The engine's per-query k=1000 cap never binds at
    oracle scale: ≤ 2000 vectors ⇒ < k candidates per query.)"""
    import numpy as np

    tables = []
    for t in range(num_tables):
        rng = np.random.RandomState(seed + 1000 * t)
        planes = rng.standard_normal((dim, num_planes))
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(emb, "
            f"[{', '.join(repr(x) for x in planes[:, b])}]::DOUBLE[]) > 0 "
            f"THEN {1 << b} ELSE 0 END)"
            for b in range(num_planes)
        )
        tables.append(f"SELECT vec_id, emb, {t} AS tbl, {bits} AS bucket FROM e")
    buckets = "\nUNION ALL\n".join(tables)
    return f"""WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
bk AS MATERIALIZED (
{buckets}),
cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         FROM bk x JOIN bk y ON x.tbl = y.tbl AND x.bucket = y.bucket
         AND x.vec_id < y.vec_id)
SELECT c.a, c.b,
       ROUND(list_cosine_similarity(ea.emb, eb.emb), 9) AS cosine
FROM cand c JOIN e ea ON c.a = ea.vec_id JOIN e eb ON c.b = eb.vec_id
WHERE list_cosine_similarity(ea.emb, eb.emb) >= {threshold}"""


#: exact cosine top-5 — the oracle for BOTH the brute-force query and
#: the IVF full-probe query (which is exhaustive by construction)
_ANN_TOPK_SQL = """WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           list_cosine_similarity(a.emb, b.emb) AS c
    FROM e a JOIN e b ON a.vec_id <> b.vec_id),
ranked AS (
    SELECT query_id, neighbor_id, c,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY c DESC, neighbor_id ASC) AS rank
    FROM scored)
SELECT query_id, neighbor_id, ROUND(c, 9) AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5"""


def oracle_sql() -> dict[str, str]:
    from propagon_spark.functions.text import _LANG_MARKERS

    lang_scores = ", ".join(
        f"({_marker_count_sql(ws)}) AS s_{lang}"
        for lang, ws in sorted(_LANG_MARKERS.items())
    )
    return {
        "edge_derivation": f"WITH {ORACLE_EDGES_CTE} SELECT * FROM pairs",
        "degree_in": _degree_sql("in"),
        "degree_out": _degree_sql("out"),
        "degree_total": _degree_sql("total"),
        "pagerank_k3": _pr_unrolled(DAMPING, PR_ITERS, seeded=False),
        "ppr_seeded_k3": _pr_unrolled(PPR_DAMPING, PR_ITERS, seeded=True),
        "pagerank_conv60": _pr_unrolled(DAMPING, PR_CONV_STEPS, seeded=False),
        "pagerank_converged": _pr_unrolled(
            DAMPING, PR_CONV_ITERS_SF001, seeded=False,
            sentinel_tol=PR_CONV_TOL,
        ),
        "hits_k2": _hits_unrolled(HITS_ITERS),
        "katz_k3": _katz_unrolled(KATZ_ALPHA, KATZ_ITERS),
        "leader_rank_k3": _leader_rank_unrolled(LR_ITERS),
        "harmonic_bfs_d4": _harmonic_bfs_sql(HARMONIC_DEPTH),
        "harmonic_src64": _harmonic_sources_sql(HARMONIC_DEPTH, HARMONIC_SRC_K),
        "bootstrap_degree_ci_exact": _bootstrap_degree_exact_sql(
            BOOT_EXACT_REPS, BOOT_EXACT_SEED
        ),
        "bootstrap_degree_ci": _bootstrap_degree_poisson_sql(
            BOOT_POIS_REPS, BOOT_POIS_SEED
        ),
        "harmonic_sampled": _harmonic_sampled_sql(
            HARMONIC_SAMPLED_DEPTH, HARMONIC_SAMPLE_K, HARMONIC_SAMPLED_SEED
        ),
        "rank_centrality": _rank_centrality_unrolled(RC_ITERS),
        "random_walker": _random_walker_unrolled(RW_BIAS, RW_ITERS),
        "components_minw2": f"""WITH RECURSIVE {ORACLE_EDGES_CTE},
se AS (SELECT src, dst FROM pairs WHERE weight >= 2
       UNION SELECT dst, src FROM pairs WHERE weight >= 2),
v AS (SELECT DISTINCT src AS id FROM se),
reach(id, r) AS (
    SELECT id, id FROM v
    UNION
    SELECT se.dst, reach.r FROM reach JOIN se ON se.src = reach.id
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS component_size
          FROM comp GROUP BY 1)
SELECT c.id AS name, c.component, s.component_size
FROM comp c JOIN sizes s USING (component)""",
        # Batagelj-Zaversnik peel as a recursive CTE: the working table IS
        # the surviving set S(k, r); one synchronized remove-all-deg<=k
        # round per recursion step (HAVING count(*) > k over the
        # self-joined frontier), _KCORE_ROUNDS rounds per k (no-op rounds
        # once the cascade converges), then k advances carrying the
        # converged set; coreness(v) = max k whose peel v entered.
        # Mirrors kcore.py / kcore.rs:40-100 exactly; round cap validated
        # against the Spark peel at sf0.001/sf0.01 in tests.
        "kcore_minw2": f"""WITH RECURSIVE {ORACLE_EDGES_CTE},
ce AS (SELECT src, dst FROM pairs WHERE weight >= 2),
se AS (SELECT src, dst FROM ce UNION SELECT dst, src FROM ce),
v AS (SELECT DISTINCT src AS id FROM se),
peel(k, r, id) AS (
    SELECT 0, 0, id FROM v
    UNION ALL
    SELECT CASE WHEN f.r < {_KCORE_ROUNDS - 1} THEN f.k ELSE f.k + 1 END,
           CASE WHEN f.r < {_KCORE_ROUNDS - 1} THEN f.r + 1 ELSE 0 END,
           f.id
    FROM peel f JOIN se e ON e.src = f.id JOIN peel g ON g.id = e.dst
    GROUP BY f.k, f.r, f.id
    HAVING count(*) > f.k
)
SELECT id AS name, CAST(max(k) AS BIGINT) AS coreness FROM peel GROUP BY id""",
        "triangle_total": f"{_TRI_BASE}\nSELECT CAST(count(*) AS BIGINT) AS triangles FROM t",
        "triangles_per_vertex": f"""{_TRI_BASE},
pv AS (SELECT x AS id FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t),
cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM pv GROUP BY 1),
v AS (SELECT DISTINCT nm AS id FROM (SELECT src AS nm FROM pairs
      UNION ALL SELECT dst FROM pairs) u)
SELECT v.id AS name, coalesce(cnt.triangles, 0) AS triangles
FROM v LEFT JOIN cnt USING (id)""",
        "lpa_round1": f"""WITH {ORACLE_EDGES_CTE},
ce AS (SELECT src, dst FROM pairs WHERE weight >= 2),
se AS (SELECT src, dst FROM ce UNION SELECT dst, src FROM ce),
v AS (SELECT DISTINCT src AS id FROM se),
hist AS (SELECT dst AS id, src AS label, count(*) AS cnt FROM se GROUP BY 1, 2),
best AS (SELECT id, label FROM hist
         QUALIFY row_number() OVER (PARTITION BY id ORDER BY cnt DESC, label ASC) = 1)
SELECT v.id AS name, coalesce(b.label, v.id) AS label
FROM v LEFT JOIN best b USING (id)""",
        "tally": """WITH li2 AS (SELECT l_orderkey AS grp, l_linenumber AS ln,
    concat('t:', lpad(CAST(l_partkey AS VARCHAR), 8, '0')) AS item,
    l_extendedprice AS p FROM lineitem),
pw AS (SELECT a.item AS winner, b.item AS loser
       FROM li2 a JOIN li2 b
       ON a.grp = b.grp AND a.ln <> b.ln AND a.p > b.p),
w AS (SELECT winner AS name, CAST(count(*) AS BIGINT) AS wins,
             CAST(count(*) AS DOUBLE) AS win_weight FROM pw GROUP BY 1),
l AS (SELECT loser AS name, CAST(count(*) AS BIGINT) AS losses,
             CAST(count(*) AS DOUBLE) AS loss_weight FROM pw GROUP BY 1)
SELECT coalesce(w.name, l.name) AS name,
       coalesce(wins, 0) AS wins, coalesce(losses, 0) AS losses,
       coalesce(win_weight, 0.0) AS win_weight,
       coalesce(loss_weight, 0.0) AS loss_weight
FROM w FULL OUTER JOIN l ON w.name = l.name""",
        "filter_min_count": _filter_min_count_sql(FMC_MIN_COUNT, _FMC_ROUNDS),
        "birank_uniform_k2": _birank_uniform_sql(BIRANK_UNIFORM_ITERS),
        "birank_supplier_part": _birank_random_sql(
            BIRANK_RANDOM_ITERS, BIRANK_RANDOM_SEED
        ),
        "sha_invariant": "SELECT doc_id, sha256(text) AS sha FROM documents",
        "ngram_jaccard": _ngram_jaccard_sql(NGRAM_N, NGRAM_THRESHOLD),
        "dedup_exact": """SELECT sha256(text) AS content_sha,
       min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS copies
FROM documents GROUP BY 1""",
        "text_stats": r"""SELECT doc_id,
  CASE WHEN trim(text) = '' THEN 0
       ELSE CAST(array_length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
  END AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars_t
FROM documents""",
        "quality_score": rf"""WITH base AS (
    SELECT doc_id, text, lower(text) AS p,
           CAST(length(text) AS BIGINT) AS n_chars,
           CASE WHEN trim(text) = '' THEN 0
                ELSE CAST(array_length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           END AS n_tokens,
           length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS n_punct,
           length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper
    FROM documents),
feat AS (
    SELECT doc_id, n_tokens,
           CASE WHEN n_tokens > 0 THEN CAST(n_chars AS DOUBLE)/n_tokens ELSE 0.0 END AS mean_token_len,
           CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END AS punct_ratio,
           CASE WHEN n_chars > 0 THEN CAST(n_upper AS DOUBLE)/n_chars ELSE 0.0 END AS upper_ratio,
           CASE WHEN n_tokens > 0 THEN CAST(({_marker_count_sql([' the ', ' and ', ' of '])}) AS DOUBLE)/n_tokens ELSE 0.0 END AS stopword_ratio
    FROM base)
SELECT doc_id, n_tokens,
       ROUND(mean_token_len, 9) AS mean_token_len,
       ROUND(punct_ratio, 9) AS punct_ratio,
       ROUND(stopword_ratio, 9) AS stopword_ratio,
       ROUND(least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.4
             + least(stopword_ratio*5.0, 1.0)*0.3
             + (1.0 - least(punct_ratio*10.0, 1.0))*0.2
             + (1.0 - least(upper_ratio*5.0, 1.0))*0.1, 9) AS quality_score
FROM feat""",
        "doc_fingerprint": _fingerprint_sql(),
        "lang_id": f"""WITH padded AS (
    SELECT doc_id, concat(' ', lower(text), ' ') AS p FROM documents),
scores AS (SELECT doc_id, {lang_scores} FROM padded)
SELECT doc_id, {_LANG_CASE} AS lang_pred FROM scores""",
        "ann_cosine_topk": _ANN_TOPK_SQL,
        "embedding_neardup_exact": _EMB_NEARDUP_EXACT_SQL,
        "embedding_neardup": _embedding_neardup_lsh_sql(
            EMB_LSH_THRESHOLD, EMB_LSH_PLANES, EMB_LSH_TABLES
        ),
        # IVF full-probe is exhaustive by construction, so the exact
        # brute-force oracle gates it too (see q_ann_ivf_topk)
        "ann_ivf_topk": _ANN_TOPK_SQL,
        "minhash_neardup": _minhash_neardup_sql(),
        "simhash_neardup": _simhash_neardup_sql(),
        "neardup_clusters": _neardup_clusters_sql(),
    }
