"""Two-cluster-size scaling evidence (BASELINE.md sandbox plan).

No real multi-executor cluster exists in this sandbox, so the north
rule's N→4N criterion is evidenced by running the identical PageRank
job on the identical input at two parallelism levels (local[N] vs
local[4N]) in separate JVMs, reporting edges-processed/sec at both and
the scaling efficiency — the MEDIAN over per-repeat level pairs, plus
the conservative MIN pair (``scaling_efficiency_min``, the headline).
Writes BENCH/scaling_{N}x{4N}[_impl].json, recomposes
BENCH/BASELINE.md, and prints a JSON line.

De-confounded by design (round-2 verdict items):
- the CSR bucket/file layout is PINNED across levels
  (PROPAGON_CSR_NBLOCKS=32) so the N and 4N runs write identical
  layouts and the phase comparison isolates parallelism;
- both kernels are measurable (``impl`` arg: csr is the <=10M-vertex
  fast path, join is the >10M-vertex / 100-TB path);
- the dedup'd edge count is read from the fit's own timings instead of
  re-running a second full distinct per worker.

Usage: python3 BENCH/scaling.py [sf_dir] [N] [4N] [repeats] [impl]
  sf_dir: synth (222M edges / 1M vertices), synth-small (22M / 100k),
          or a /root/testdata/sf* dir
  impl:   csr (default) | join
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: fixed bucket layout across levels — nblocks must not follow the core
#: count or the N vs 4N comparison is confounded by file/bucket layout
NBLOCKS = "32"

_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from propagon_spark.session import get_spark
from propagon_spark.graph.core import Graph
from propagon_spark.graph.pagerank import pagerank
from propagon_spark.sources.tpch_graph import cocommit_edges
from propagon_spark.sources.repo_table import synth_repo_table, derive_edges

cores = int(sys.argv[1])
sf_dir = sys.argv[2]
impl = sys.argv[3]
spark = get_spark(app_name=f"scaling-{{cores}}", master=f"local[{{cores}}]",
                  shuffle_partitions=2 * cores)
spark.sparkContext.setLogLevel("ERROR")
# Materialized interned input (see `prepare_input`): the synthetic
# generation + vocab interning are identical constants at every level,
# so they are done ONCE at full width and each leg just reads the
# id-typed Parquet. The measured fit (canonicalize -> loop) is
# unchanged; this only removes ~10-35 min of identical per-leg
# preamble from the suite's wall-clock.
_data = os.path.join({repo!r}, "BENCH", "data", sf_dir)
if os.path.exists(_data + ".json"):
    with open(_data + ".json") as f:
        meta = json.load(f)
    g = Graph.from_dense_ids(spark.read.parquet(_data + ".parquet"),
                             weight="weight",
                             num_vertices=meta["num_vertices"])
elif sf_dir == "synth-wide":
    # PAST-THE-CSR-CAP input: ~12M file vertices (> csr_max_vertices =
    # 10M, so only the join kernel can run it) at web-link density
    # E/V ~ 15 — direct sparse generation, no cross grid
    from propagon_spark.sources.repo_table import synth_repo_table_sparse

    repo = synth_repo_table_sparse(spark, n_repos=60_000,
                                   n_files_per_repo=400,
                                   n_commits_per_repo=23,
                                   files_per_commit=12)
    edges = derive_edges(repo, max_commit_files=100, symmetric=True)
elif sf_dir == "synth-huge":
    # FIRST BEYOND-EXTRAPOLATION datapoint (round-4 verdict item 1):
    # ~1.04e8 file vertices / ~5.9e8 directed co-commit edges — an
    # order of magnitude past the 12M-vertex wide input, 10x past
    # csr_max_vertices. Join kernel only. Sized so a 1-core leg stays
    # ~35-40 min at MAXIT=3 (same direct sparse generation as wide).
    from propagon_spark.sources.repo_table import synth_repo_table_sparse

    repo = synth_repo_table_sparse(spark, n_repos=1_000_000,
                                   n_files_per_repo=400,
                                   n_commits_per_repo=20,
                                   files_per_commit=6)
    edges = derive_edges(repo, max_commit_files=100, symmetric=True)
elif sf_dir.startswith("synth"):
    # deterministic seeded repo table large enough to be compute-bound;
    # synth = ~222M directed co-commit edges / 1M file vertices,
    # synth-small = ~22M / 100k
    n_repos = 100 if sf_dir == "synth-small" else 1000
    repo = synth_repo_table(spark, n_repos=n_repos, n_files_per_repo=1000,
                            n_commits_per_repo=150, touch_prob_mod=25)
    edges = derive_edges(repo, max_commit_files=100, symmetric=True)
else:
    edges = cocommit_edges(spark, sf_dir, symmetric=True)
if "g" not in globals():
    g = Graph.from_edges(edges, weight="weight")
# best of K fits in this JVM: one-time JIT/codegen makes the first fit
# slow at narrow levels while cache/GC churn can make the SECOND fit slow
# at wide levels — best-of-K is the standard steady-state protocol and
# absorbs both one-sided effects. K=1 is justified for LONG fits (the
# synth-wide pair: ~25 min per fit at 2 cores) where JIT warm-up is a
# negligible fraction and doubling the leg doubles exposure to
# environmental stall windows instead of reducing noise.
# PROPAGON_SCALING_MAXIT caps the iteration count (IDENTICAL at both
# levels, so the throughput ratio the criterion divides is unaffected;
# it just bounds wall-clock on slow-converging wide graphs).
fits = int(os.environ.get("PROPAGON_SCALING_FITS", "2"))
max_it = int(os.environ.get("PROPAGON_SCALING_MAXIT", "100"))
best = None
for _fit in range(fits):
    t0 = time.monotonic()
    res = pagerank(g, damping=0.85, sink="uniform", tol=1e-6,
                   max_iterations=max_it, impl=impl)
    res.ranks.count()
    secs = time.monotonic() - t0
    if best is None or secs < best[0]:
        best = (secs, res)
secs, res = best
# edges actually processed per iteration = the canonicalized (dedup'd)
# frame's row count, recorded by the fit itself
dedup = res.timings.get("edge_rows") or \
    edges.select("src", "dst").distinct().count()
print("RESULT " + json.dumps({{
    "cores": cores, "seconds": round(secs, 3), "iterations": res.iterations,
    "dedup_edges": dedup, "edges_per_sec": round(dedup * res.iterations / secs),
    "vertices": g.num_vertices,
    "converged": res.converged, "impl": impl,
    "timings": {{k: (round(v, 3) if isinstance(v, float) else v)
                for k, v in res.timings.items()}},
}}))
spark.stop()
"""


_PREP = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
from propagon_spark.session import get_spark
from propagon_spark.graph.core import Graph
from propagon_spark.sources.repo_table import (
    synth_repo_table, synth_repo_table_sparse, derive_edges,
)

sf_dir = sys.argv[1]
out = sys.argv[2]
spark = get_spark(app_name=f"scaling-prep-{{sf_dir}}", master="local[32]",
                  shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
if sf_dir == "synth-wide":
    repo = synth_repo_table_sparse(spark, n_repos=60_000,
                                   n_files_per_repo=400,
                                   n_commits_per_repo=23,
                                   files_per_commit=12)
elif sf_dir == "synth-huge":
    repo = synth_repo_table_sparse(spark, n_repos=1_000_000,
                                   n_files_per_repo=400,
                                   n_commits_per_repo=20,
                                   files_per_commit=6)
else:
    n_repos = 100 if sf_dir == "synth-small" else 1000
    repo = synth_repo_table(spark, n_repos=n_repos, n_files_per_repo=1000,
                            n_commits_per_repo=150, touch_prob_mod=25)
edges = derive_edges(repo, max_commit_files=100, symmetric=True)
g = Graph.from_edges(edges, weight="weight")
g.edges.write.mode("overwrite").parquet(out + ".parquet")
with open(out + ".json", "w") as f:
    json.dump({{"num_vertices": g.num_vertices,
               "num_edge_rows": g.num_edge_rows}}, f)
print(f"PREP {{sf_dir}}: {{g.num_vertices}} vertices, "
      f"{{g.num_edge_rows}} edge rows -> {{out}}.parquet")
spark.stop()
"""


def prepare_input(sf_dir: str) -> None:
    """Materialize the interned id-typed edge frame for a synthetic input
    once (full-width JVM), so each measured leg reads Parquet instead of
    re-running generation + vocab interning (identical constants at
    every level — pure wall-clock overhead for the suite)."""
    if not sf_dir.startswith("synth"):
        return
    data_dir = os.path.join(REPO, "BENCH", "data")
    out = os.path.join(data_dir, sf_dir)
    if os.path.exists(out + ".json"):
        return
    os.makedirs(data_dir, exist_ok=True)
    print(f"[scaling] materializing {sf_dir} input -> {out}.parquet",
          flush=True)
    r = subprocess.run(
        [sys.executable, "-c", _PREP.format(repo=REPO), sf_dir, out],
        timeout=7200,
    )
    if r.returncode != 0 or not os.path.exists(out + ".json"):
        raise RuntimeError(f"input materialization failed for {sf_dir}")


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _cooldown(max_wait: int = 300, calm: float = 1.0) -> None:
    """Wait for the 1-min loadavg to decay below ``calm`` before starting
    a leg (cap ``max_wait`` s). Round-4 lesson: with only a 10 s gap, a
    2-core leg starts while the PREVIOUS 8-core leg's load is still
    decaying (recorded leg-start loads of 6-9 with nothing else running)
    and while the page cache / kswapd are still churning from it — the
    memory-bus-bound dedup phase swung ±30% repeat-to-repeat because of
    it. The cool-down makes legs independent, which is also the honest
    model of separate cluster runs."""
    waited = 0
    while _loadavg() >= calm and waited < max_wait:
        time.sleep(15)
        waited += 15


def run_level(cores: int, sf_dir: str, impl: str) -> dict:
    script = _WORKER.format(repo=REPO)
    _cooldown()
    load = _loadavg()
    print(f"[scaling] leg start: cores={cores} loadavg={load}", flush=True)
    env = dict(os.environ, PROPAGON_CSR_NBLOCKS=NBLOCKS)
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, "-c", script, str(cores), sf_dir, impl],
        capture_output=True, text=True, timeout=7200, env=env,
    )
    load_end = _loadavg()
    print(f"[scaling] leg end: cores={cores} wall={time.time()-t0:.0f}s "
          f"loadavg_end={load_end}", flush=True)
    time.sleep(10)  # let the worker JVM's shutdown hooks finish
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            r = json.loads(line[len("RESULT "):])
            r["loadavg_at_start"] = load
            # end-of-leg load: in-leg neighbor contamination that the
            # start sample misses (round-4c lesson: repeat 3's 8-core
            # shard write stalled 10s->52s with a calm start sample)
            r["loadavg_at_end"] = load_end
            return r
    log = os.path.join(REPO, "BENCH", f"worker_fail_{cores}.log")
    with open(log, "w") as f:
        f.write(out.stderr)
    raise RuntimeError(f"worker failed (cores={cores}); stderr → {log}\n"
                       f"{out.stderr[-1500:]}")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "synth"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    n4 = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    impl = sys.argv[5] if len(sys.argv) > 5 else "csr"

    # /proc/loadavg here is HOST-wide: other tenants' load shows up in
    # wall-clock and hits the wide level hardest. Levels are alternated
    # within each repeat so a load window hits BOTH levels of a pair,
    # and the pair's efficiency is computed per repeat; the HEADLINE is
    # the MEDIAN of the per-repeat efficiencies (round-3 verdict: a
    # single best-of run with a 3% pass margin against ±6% window
    # spread is fragile evidence — the median of >=3 paired runs is
    # robust to one contaminated window in either direction). Per-run
    # loadavg is recorded for every run for auditability.
    prepare_input(sf_dir)
    factor = n4 / n
    suffix = "" if impl == "csr" else f"_{impl}"
    # non-default synth inputs get their own file so pairs on different
    # inputs never overwrite each other (synth-wide → "-wide")
    if sf_dir.startswith("synth-"):
        suffix += f"-{sf_dir.split('-', 1)[1]}"
    # PROPAGON_SCALING_TAG: protocol-variant tag (e.g. "it10" for a
    # 10-iteration budget) — its pairs land in their OWN file so a
    # different-protocol run never overwrites or resumes an existing
    # record, and the report labels the section with the tag
    tag = os.environ.get("PROPAGON_SCALING_TAG", "")
    if tag:
        suffix += f"-{tag}"
    out_path = os.path.join(REPO, "BENCH", f"scaling_{n}x{n4}{suffix}.json")
    pairs: list[dict] = []
    resumed = 0
    # PROPAGON_SCALING_RESUME=1: seed completed repeats from the existing
    # json (written incrementally after every repeat) so a suite killed
    # mid-repeat continues instead of discarding finished pairs. `repeats`
    # then means ADDITIONAL repeats to run. Provenance is recorded
    # (`resumed_from_repeats`) so the audit trail shows which pairs came
    # from the earlier suite invocation.
    if os.environ.get("PROPAGON_SCALING_RESUME") == "1" and os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f)
        if prior.get("input") == sf_dir and prior.get("impl") == impl:
            for p in prior.get("all_runs", []):
                pairs.append(p)
            resumed = len(pairs)
            print(f"[scaling] resume: seeded {resumed} completed repeat(s) "
                  f"from {out_path}", flush=True)
    report: dict = {}
    for i in range(resumed, resumed + repeats):
        # Alternate leg ORDER across repeats (low-first on even repeats,
        # high-first on odd): round-4c showed a monotone warm-up drift
        # over a suite (page cache + JIT state) that always favors
        # whichever level runs LATER — a fixed low-then-high order
        # converts that drift into a one-sided efficiency bias. Order
        # alternation makes the drift hit both levels symmetrically
        # across the median.
        if i % 2 == 0:
            r_lo = run_level(n, sf_dir, impl)
            r_hi = run_level(n4, sf_dir, impl)
        else:
            r_hi = run_level(n4, sf_dir, impl)
            r_lo = run_level(n, sf_dir, impl)
        # efficiency from the THROUGHPUT ratio (edges/sec = dedup×iters/s),
        # not raw seconds: convergence mode can stop at a slightly
        # different iteration count per level (last-ulp L1 differences
        # near the threshold, chained-step overshoot), and throughput is
        # the quantity the north rule actually names. Identical to the
        # seconds ratio whenever both levels run the same count.
        eff = (r_hi["edges_per_sec"] / r_lo["edges_per_sec"]) / factor
        pairs.append({"low": r_lo, "high": r_hi,
                      "efficiency": round(eff, 3)})
        # write after EVERY repeat: a cut-off run still leaves the
        # completed repeats (and their median) on disk
        effs = sorted(p["efficiency"] for p in pairs)
        median_eff = effs[len(effs) // 2] if len(effs) % 2 else (
            effs[len(effs) // 2 - 1] + effs[len(effs) // 2]
        ) / 2
        # the phase table and headline come from the SAME pair: the
        # repeat whose efficiency is (lower-)median, so numbers cohere
        rep = min(pairs, key=lambda p: abs(p["efficiency"] - median_eff))
        report = {
            "input": sf_dir,
            "impl": impl,
            **({"tag": tag} if tag else {}),
            "nblocks": int(NBLOCKS),
            "repeats": len(pairs),
            "repeats_requested": resumed + repeats,
            "resumed_from_repeats": resumed,
            "low": rep["low"],
            "high": rep["high"],
            "scaling_efficiency": round(median_eff, 3),
            # the headline: the conservative (worst) repeat pair
            "scaling_efficiency_min": effs[0],
            "efficiency_per_repeat": [p["efficiency"] for p in pairs],
            "all_runs": pairs,
            "target": 0.8,
        }
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1)
        print(f"[scaling] repeat {len(pairs)}/{resumed + repeats} eff={eff:.3f} "
              f"median-so-far={median_eff:.3f}", flush=True)
    print(json.dumps(report))

    try:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import report as report_mod  # distinct name: `report` above is a dict

        report_mod.main()  # recompose BASELINE.md from every recorded pair
    except Exception as e:  # BASELINE.md stale until report.py runs again
        print(f"report compose failed ({e}); {out_path} written — run "
              f"BENCH/report.py manually")


if __name__ == "__main__":
    main()
