"""Independent oracles: DuckDB for edge derivation and triangles, numpy
for everything iterative. Nothing here imports the engine.

Vertex ids follow the engine's documented contract that ids are dense and
order-preserving (``id(a) < id(b)`` iff ``name(a) < name(b)``), so an
oracle id is a name's rank in the sorted name list. Results are cached
next to the inputs, once per seed, and never computed inside a timed run.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

#: PageRank damping used by every workload
DAMPING = 0.85
#: HITS runs a fixed number of iterations (tolerance 0)
HITS_ITERATIONS = 2
#: LPA round budget
LPA_ROUNDS = 5
#: graph-suite runs the join-kernel PageRank for a fixed number of steps
JOIN_ITERATIONS = 4

_DERIVE_SQL = """
WITH f AS (SELECT DISTINCT repo, "commit", path FROM read_parquet('{src}')),
ok AS (SELECT repo, "commit" FROM f GROUP BY 1, 2 HAVING count(*) <= {cap}),
fo AS (SELECT f.* FROM f JOIN ok USING (repo, "commit")),
p AS (SELECT a.repo || ':' || a.path AS s, b.repo || ':' || b.path AS d
      FROM fo a JOIN fo b USING (repo, "commit") WHERE a.path < b.path
      GROUP BY 1, 2)
SELECT s AS src, d AS dst FROM p UNION ALL SELECT d, s FROM p
"""

_TRIANGLES_SQL = """
WITH e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM und WHERE src <> dst),
t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
v AS (SELECT x AS id FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
SELECT id, count(*) AS c FROM v GROUP BY id
"""


def _duck(work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET threads=2")
    return con


def derive_edges(con, repo_parquet: str, cap: int) -> tuple[np.ndarray, np.ndarray]:
    """Symmetric co-commit edges as (src names, dst names)."""
    t = con.execute(_DERIVE_SQL.format(src=repo_parquet, cap=cap)).fetch_arrow_table()
    return (
        np.asarray(t.column("src").to_pylist(), dtype=str),
        np.asarray(t.column("dst").to_pylist(), dtype=str),
    )


def intern(src: np.ndarray, dst: np.ndarray):
    """Order-preserving dense ids: (names, src ids, dst ids)."""
    names = np.unique(np.concatenate([src, dst]))
    return names, np.searchsorted(names, src), np.searchsorted(names, dst)


def dedup(n: int, src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    key = np.unique(src.astype(np.int64) * n + dst)
    return key // n, key % n


def undirected(n: int, src, dst):
    """Dedup'd, self-loop-free, both directions."""
    keep = src != dst
    a = np.minimum(src[keep], dst[keep])
    b = np.maximum(src[keep], dst[keep])
    a, b = dedup(n, a, b)
    return np.concatenate([a, b]), np.concatenate([b, a])


def pagerank(n: int, src, dst, sink: str = "uniform", iterations: int | None = None) -> np.ndarray:
    """Power iteration from the uniform vector on dedup'd directed edges,
    for ``iterations`` steps or else to an L1 step below 1e-13.
    ``uniform`` spreads the rank of out-degree-0 vertices over all
    vertices, ``none`` drops it."""
    src, dst = dedup(n, src, dst)
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    inv = np.divide(1.0, outdeg, out=np.zeros(n), where=outdeg > 0)
    sinks = outdeg == 0
    v = 1.0 / n
    p = np.full(n, v)
    for _ in range(iterations or 10_000):
        m = np.bincount(dst, weights=(p * inv)[src], minlength=n)
        s = p[sinks].sum() if sink == "uniform" else 0.0
        nxt = DAMPING * (m + s * v) + (1.0 - DAMPING) * v
        l1 = np.abs(nxt - p).sum()
        p = nxt
        if iterations is None and l1 < 1e-13:
            return p
    if iterations:
        return p
    raise RuntimeError("oracle pagerank did not converge")


def hits(n: int, src, dst, iterations: int = HITS_ITERATIONS):
    """``iterations`` HITS steps from uniform; returns (authorities, hubs)."""
    src, dst = dedup(n, src, dst)
    a = np.full(n, 1.0 / n)
    h = np.full(n, 1.0 / n)
    for _ in range(iterations):
        a = np.bincount(dst, weights=h[src], minlength=n)
        a /= a.sum()
        h = np.bincount(src, weights=a[dst], minlength=n)
        h /= h.sum()
    return a, h


def components(n: int, src, dst) -> np.ndarray:
    """Union-find; label = min vertex id of the component."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return np.array([find(x) for x in range(n)], dtype=np.int64)


def lpa(n: int, src, dst, max_rounds: int = LPA_ROUNDS) -> np.ndarray:
    """Synchronous LPA: most frequent neighbour label, ties to the min."""
    s, d = undirected(n, src, dst)
    label = np.arange(n, dtype=np.int64)
    for _ in range(max_rounds):
        nl = label[s]
        order = np.lexsort((nl, d))
        dd, ll = d[order], nl[order]
        run = np.flatnonzero(np.r_[True, (dd[1:] != dd[:-1]) | (ll[1:] != ll[:-1])])
        cnt = np.diff(np.r_[run, dd.size])
        rd, rl = dd[run], ll[run]
        best = np.lexsort((rl, -cnt, rd))
        first = best[np.r_[True, rd[best][1:] != rd[best][:-1]]]
        new = label.copy()
        new[rd[first]] = rl[first]
        changed = np.count_nonzero(new != label)
        label = new
        if changed == 0:
            break
    return label


def kcore(n: int, src, dst) -> np.ndarray:
    """Batagelj-Zaversnik bucket peel."""
    s, d = undirected(n, src, dst)
    order = np.argsort(s, kind="stable")
    nbr = d[order].tolist()
    start = np.r_[0, np.cumsum(np.bincount(s, minlength=n))].tolist()
    deg = np.bincount(s, minlength=n).tolist()
    md = max(deg, default=0)
    bins = [0] * (md + 1)
    for x in deg:
        bins[x] += 1
    pos_start, acc = [0] * (md + 1), 0
    for k in range(md + 1):
        pos_start[k], acc = acc, acc + bins[k]
    vert, pos = [0] * n, [0] * n
    nxt = pos_start[:]
    for v in range(n):
        pos[v] = nxt[deg[v]]
        vert[pos[v]] = v
        nxt[deg[v]] += 1
    for i in range(n):
        v = vert[i]
        for u in nbr[start[v]:start[v + 1]]:
            if deg[u] > deg[v]:
                du, pu = deg[u], pos[u]
                pw = pos_start[du]
                w = vert[pw]
                if u != w:
                    pos[u], pos[w] = pw, pu
                    vert[pu], vert[pw] = w, u
                pos_start[du] += 1
                deg[u] -= 1
    return np.asarray(deg, dtype=np.int64)


def triangles(con, n: int, src, dst) -> np.ndarray:
    import pyarrow as pa

    und = pa.table({"src": src.astype(np.int64), "dst": dst.astype(np.int64)})
    con.register("und", und)
    rows = con.execute(_TRIANGLES_SQL).fetchnumpy()
    con.unregister("und")
    out = np.zeros(n, dtype=np.int64)
    out[rows["id"].astype(np.int64)] = rows["c"].astype(np.int64)
    return out


def graph_props(n: int, src, dst) -> dict:
    s, _ = undirected(n, src, dst)
    comp = components(n, src, dst)
    return {
        "vertices": int(n),
        "dedup_edges": int(dedup(n, src, dst)[0].size),
        "components": int(np.unique(comp).size),
        "max_degree": int(np.bincount(s, minlength=n).max()),
    }


def _load(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    with np.load(path) as z:
        return {k: z[k] for k in z.files}


def oracles(work: str, workload: str, input_dir: str, cap: int) -> dict:
    """Expected outputs for one (workload, seed), computed once and cached."""
    path = os.path.join(input_dir, "oracle.npz")
    cached = _load(path)
    if cached is not None:
        return cached
    con = _duck(work)
    try:
        out = _compute(con, workload, input_dir, cap)
    finally:
        con.close()
    np.savez(path + ".tmp.npz", **out)
    os.replace(path + ".tmp.npz", path)
    return out


def _compute(con, workload: str, input_dir: str, cap: int) -> dict:
    if workload == "refit-stream":
        batches = sorted(f for f in os.listdir(input_dir) if f.startswith("batch_"))
        out: dict = {}
        srcs, dsts = [], []
        for i, b in enumerate(batches):
            t = con.execute(
                f"SELECT src, dst FROM read_parquet('{os.path.join(input_dir, b)}')"
            ).fetch_arrow_table()
            srcs.append(np.asarray(t.column("src").to_pylist(), dtype=str))
            dsts.append(np.asarray(t.column("dst").to_pylist(), dtype=str))
            names, s, d = intern(np.concatenate(srcs), np.concatenate(dsts))
            out[f"names_{i}"] = names
            out[f"pagerank_{i}"] = pagerank(names.size, s, d, sink="uniform")
        return out

    src_names, dst_names = derive_edges(con, os.path.join(input_dir, "repo.parquet"), cap)
    names, s, d = intern(src_names, dst_names)
    n = names.size
    out = {"names": names, "derived_rows": np.int64(src_names.size)}
    for k, v in graph_props(n, s, d).items():
        out[f"prop_{k}"] = np.int64(v)
    if workload == "pagerank-cold":
        out["pagerank"] = pagerank(n, s, d, sink="uniform")
        return out
    out["components"] = components(n, s, d)
    out["lpa"] = lpa(n, s, d)
    out["triangles"] = triangles(con, n, s, d)
    out["kcore"] = kcore(n, s, d)
    out["hits_a"], out["hits_h"] = hits(n, s, d)
    out["pagerank"] = pagerank(n, s, d, sink="none", iterations=JOIN_ITERATIONS)
    return out
