"""Seeded input generator: numpy + pyarrow, independent of the engine.

Every workload's input is a pure function of ``(workload, seed)`` and is
cached as Parquet under ``<work>/inputs/<workload>-s<seed>/`` so repeated
runs on one seed skip generation. The engine only ever sees these files.

- ``pagerank-cold`` and ``graph-suite`` get a repo table with the
  production columns ``(repo, path, commit, lang, content)``.
- ``refit-stream`` gets ``batch_NN.parquet`` edge micro-batches
  ``(src, dst, weight)`` over a growing vertex set.

The repo tables of one workload are the same graph for every seed: their
shape is drawn from a fixed generator, and the seed draws the labelling
(which file of a repo plays which part, the commit names) and the row
order. Every seed then costs the same work, while names, hash placement,
sort order and so every result differ.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: mirror of the engine's documented cap on files per commit (commits above
#: it are dropped before the self-join); the generator makes a few of them
COMMIT_CAP = 100

_LANGS = np.array(["py", "rs", "go", "java", "c", "ts"])

# pagerank-cold: a scaled-down sf0.1 lineitem shape (one big file pool,
# small commits with a skewed size tail, a few commits above the cap)
PR_FILES = 1_200
PR_REPOS = 3
PR_COMMITS = 4_000

# graph-suite: sparse, hundreds of components, long paths, a few hubs
GS_SMALL_REPOS = 150
GS_CHAIN_REPOS = 8
GS_CHAIN_LEN = 12
GS_MODULES = 60
GS_MODULE_FILES = 25
GS_BIG_COMMITS = 1_200
GS_HUBS = 3

# refit-stream: micro-batches of new edges on a growing vertex set
RS_BATCHES = 2
RS_V0 = 1_500
RS_DV = 250
RS_EDGES_PER_BATCH = 6_000


def _commit_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct 12-hex-digit commit names."""
    ids = rng.choice(2**47, size=n, replace=False) + 2**44
    return np.array([f"{x:012x}" for x in ids.tolist()])


def _popular(rng: np.random.Generator, size: int, k: int, skew: float) -> np.ndarray:
    """k draws from 0..size-1 with a power-law popularity profile."""
    w = (np.arange(size) + 8.0) ** -skew
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(k)), size - 1)


def _relabel(rng: np.random.Generator, repo: np.ndarray, fidx: np.ndarray, commit: np.ndarray):
    """The seed's labelling of a fixed shape: file indexes permuted within
    each repo, commit numbers mapped to fresh names, rows shuffled."""
    fidx = fidx.copy()
    for r in np.unique(repo):
        m = repo == r
        _, inv = np.unique(fidx[m], return_inverse=True)
        fidx[m] = rng.permutation(int(inv.max()) + 1)[inv]
    _, cinv = np.unique(commit, return_inverse=True)
    names = _commit_ids(rng, int(cinv.max()) + 1)
    order = rng.permutation(repo.size)
    return repo[order], fidx[order], names[cinv][order]


def _repo_table(repo: np.ndarray, fidx: np.ndarray, commit: np.ndarray) -> pa.Table:
    """Rows ``(repo, path, commit, lang, content)`` from parallel arrays of
    repo names, per-repo file indexes and commit names; duplicate
    (repo, path, commit) rows are dropped."""
    key = np.char.add(np.char.add(repo, "|"), np.char.add(fidx.astype(str), np.char.add("|", commit)))
    _, first = np.unique(key, return_index=True)
    first.sort()
    repo, fidx, commit = repo[first], fidx[first], commit[first]
    lang = _LANGS[fidx % len(_LANGS)]
    path = [f"src/m{f // 64}/f{f}.{lang_}" for f, lang_ in zip(fidx.tolist(), lang.tolist())]
    content = [f"// {p} @ {c}" for p, c in zip(path, commit.tolist())]
    return pa.table(
        {
            "repo": pa.array(repo.tolist(), pa.string()),
            "path": pa.array(path, pa.string()),
            "commit": pa.array(commit.tolist(), pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
            "content": pa.array(content, pa.string()),
        }
    )


def _commit_sizes(rng: np.random.Generator, n: int, giant_frac: float) -> np.ndarray:
    """Skewed commit sizes: mostly 1-8 files, a geometric tail, and a
    ``giant_frac`` share of commits above the cap."""
    g = 1 + rng.geometric(0.28, size=n)
    g = np.minimum(g, 60)
    giant = rng.random(n) < giant_frac
    g[giant] = rng.integers(COMMIT_CAP + 1, 2 * COMMIT_CAP, size=int(giant.sum()))
    return g


def gen_pagerank_cold(seed: int) -> pa.Table:
    rng = np.random.default_rng([0, 1])
    share = np.array([0.6, 0.3, 0.1])[:PR_REPOS]
    repo_files = np.maximum(1, (share / share.sum() * PR_FILES).astype(int))
    commit_repo = rng.choice(PR_REPOS, size=PR_COMMITS, p=share / share.sum())
    sizes = _commit_sizes(rng, PR_COMMITS, giant_frac=0.002)
    sizes = np.minimum(sizes, repo_files[commit_repo])
    draw_commit = np.repeat(np.arange(PR_COMMITS), sizes)
    draw_repo = commit_repo[draw_commit]
    fidx = np.empty(draw_commit.size, dtype=np.int64)
    for r in range(PR_REPOS):
        m = draw_repo == r
        fidx[m] = _popular(rng, int(repo_files[r]), int(m.sum()), skew=0.6)
    repos = np.array([f"repo{r:03d}" for r in range(PR_REPOS)])
    return _repo_table(*_relabel(np.random.default_rng([seed, 1]), repos[draw_repo], fidx, draw_commit))


def gen_graph_suite(seed: int) -> pa.Table:
    rng = np.random.default_rng([0, 2])
    repo, fidx, commit = [], [], []
    n_commits = 0

    def add(repo_name: str, files_per_commit: list[np.ndarray]) -> None:
        nonlocal n_commits
        for files in files_per_commit:
            repo.append(np.full(files.size, repo_name))
            fidx.append(files)
            commit.append(np.full(files.size, n_commits))
            n_commits += 1

    # one big repo of modules: a commit touches 3-5 files of one module,
    # and a share of commits also touches one of a few hub files (build
    # and readme files) that tie the modules together; one giant commit
    # above the cap must not contribute edges
    big = []
    for _ in range(GS_BIG_COMMITS):
        m = int(rng.integers(GS_MODULES))
        k = int(rng.integers(3, 6))
        files = GS_HUBS + m * GS_MODULE_FILES + rng.choice(GS_MODULE_FILES, size=k, replace=False)
        if rng.random() < 0.15:
            files = np.append(files, rng.integers(GS_HUBS))
        big.append(files)
    big.append(GS_HUBS + rng.choice(GS_MODULES * GS_MODULE_FILES, size=COMMIT_CAP + 20, replace=False))
    add("big", big)
    # chain repos: commit i touches files i..i+2 -> long strips of triangles
    for c in range(GS_CHAIN_REPOS):
        add(f"chain{c:02d}", [np.arange(i, i + 3) for i in range(GS_CHAIN_LEN)])
    # hundreds of small repos, each a handful of files and commits; some
    # split into more than one component
    for r in range(GS_SMALL_REPOS):
        nf = int(rng.integers(3, 20))
        nc = int(rng.integers(1, nf // 2 + 2))
        add(
            f"small{r:03d}",
            [rng.choice(nf, size=int(rng.integers(3, min(nf, 5) + 1)), replace=False) for _ in range(nc)],
        )
    return _repo_table(*_relabel(
        np.random.default_rng([seed, 2]),
        np.concatenate(repo),
        np.concatenate(fidx).astype(np.int64),
        np.concatenate(commit),
    ))


def gen_refit_stream(seed: int) -> list[pa.Table]:
    """Directed edge batches: batch b draws sources from the vertices that
    exist by then (``RS_V0 + b * RS_DV``) with a preference for new ones,
    and targets with a popularity skew, so some vertices stay sinks."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for b in range(RS_BATCHES):
        nv = RS_V0 + b * RS_DV
        k = RS_EDGES_PER_BATCH
        new = rng.random(k) < 0.5
        src = np.where(
            new,
            rng.integers(max(0, nv - RS_DV), nv, size=k),
            rng.integers(0, nv, size=k),
        )
        dst = _popular(rng, nv, k, skew=0.7)
        keep = src != dst
        src, dst = src[keep], dst[keep]
        w = rng.integers(1, 4, size=src.size).astype(np.float64)
        out.append(
            pa.table(
                {
                    "src": pa.array([f"repo:src/f{x}.py" for x in src.tolist()], pa.string()),
                    "dst": pa.array([f"repo:src/f{x}.py" for x in dst.tolist()], pa.string()),
                    "weight": pa.array(w),
                }
            )
        )
    return out


def _repo_props(t: pa.Table) -> dict:
    repo = np.asarray(t.column("repo").to_pylist())
    commit = np.asarray(t.column("commit").to_pylist())
    path = np.asarray(t.column("path").to_pylist())
    files = np.unique(np.char.add(np.char.add(repo, ":"), path)).size
    _, sizes = np.unique(np.char.add(np.char.add(repo, "|"), commit), return_counts=True)
    return {
        "rows": t.num_rows,
        "files": int(files),
        "commits": int(sizes.size),
        "commits_over_cap": int((sizes > COMMIT_CAP).sum()),
        "max_commit_files": int(sizes.max()),
    }


def _version() -> str:
    """Digest of the generator and oracle sources: a cached input or
    oracle made by other code is never reused."""
    h = hashlib.sha256()
    for f in ("gen.py", "oracle.py"):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:8]


def inputs(work: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return ``(input dir, properties)``, generating on first use."""
    d = os.path.join(work, "inputs", f"{workload}-s{seed}-{_version()}")
    meta = os.path.join(d, "props.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return d, json.load(f)
    tmp = d + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    if workload == "refit-stream":
        batches = gen_refit_stream(seed)
        for i, t in enumerate(batches):
            pq.write_table(t, os.path.join(tmp, f"batch_{i:02d}.parquet"))
        props = {"batches": len(batches), "edge_rows": sum(t.num_rows for t in batches)}
    else:
        t = gen_pagerank_cold(seed) if workload == "pagerank-cold" else gen_graph_suite(seed)
        pq.write_table(t, os.path.join(tmp, "repo.parquet"))
        props = _repo_props(t)
    with open(os.path.join(tmp, "props.json"), "w") as f:
        json.dump(props, f)
    os.replace(tmp, d)
    return d, props
