"""Edge blocks + driver-held vertex state: the store behind CSR PageRank
(graph/pagerank.py), k-core's H-index rounds (graph/kcore.py) and
label propagation (graph/lpa.py), whose rounds run on the driver
backend of ``plans.iterate.fixpoint``.

A store is one canonical form of a Graph's edges. The Graph owns it
(``Graph.store(form)``, graph/core.py): it is built on first use, at most
once per Graph, and kept until ``Graph.unpersist()`` closes it. A round
(``EdgeBlocks.gather(kernel, state, dtype)``) runs one per-bucket numpy
kernel over ``(src, dst_local)`` columns and returns the n-vector.

Placement. ``Graph.store`` decides it once per store, from the Graph's
``num_edge_rows`` against :data:`DRIVER_STORE_MAX_EDGE_ROWS`, read at
call time:

- **Driver** (at or below the bound, :class:`DriverBlocks`): the form is
  cut in numpy (``canon.*_pairs``) from the id columns the Graph holds
  on the driver (``Graph.driver_edges``), with no Spark job, and held as
  ONE bucket (``nblocks = 1``, ``dst_local = dst``) in the store's id
  dtype; its ``src_degree`` is an ``np.bincount``. A round calls the
  kernel in the driver process: no broadcast, no Spark job, no shard
  file, no Python worker. Driver bytes at the bound: a form has at most
  2·10⁵ rows, held as 8 B/edge of int32 columns (1.6 MB) plus the
  8 B/vertex degree vector. The Graph's own columns (int64 ids and a
  float64 weight, 24 B/edge: 2.4 MB at 10⁵ rows) are held once for all
  of its forms.
- **Workers** (above the bound, :class:`EdgeBlocks`, :func:`build`):
  worker-written shard files, one Python-worker job per round, described
  below.

The bound is where a driver round stops winning. One round per kernel
on a seeded random Graph (n = rows/10, few reciprocal edges, so the
undirected form has ~2× the Graph's rows: the worst case), median of 5
after a warm-up, on a 4-core host. Milliseconds, driver / workers:

|            |               local[2]               |               local[4]              |
| Graph rows |     _spmv |    _hindex |       _mode |     _spmv |    _hindex |      _mode |
|------------|-----------|------------|-------------|-----------|------------|------------|
| 100k       | 0.7 / 106 |   46 / 154 |   100 / 131 | 0.7 / 157 |   47 / 163 |  103 / 150 |
| 120k       | 0.7 / 119 |   58 / 119 |   127 / 103 | 0.8 / 126 |   55 / 145 |  128 / 155 |
| 140k       | 0.8 / 108 |   56 / 133 |   149 / 122 | 0.9 / 117 |   62 / 129 |  138 / 150 |
| 160k       | 1.2 / 111 |   76 / 130 |   165 / 144 | 1.1 / 120 |   80 / 138 |  154 / 144 |
| 200k       |  1.6 / 94 |   94 / 121 |   212 / 123 |  1.1 / 99 |   84 / 125 |  192 / 133 |
| 400k       | 3.3 / 100 |  209 / 133 |   425 / 228 | 2.9 / 135 |  207 / 180 |  513 / 242 |
| 800k       | 5.4 / 118 |  377 / 205 |  1084 / 445 | 6.1 / 155 |  409 / 206 | 1057 / 350 |
| 1.6M       |  17 / 113 |  931 / 445 |  2555 / 954 |  15 / 152 |  984 / 431 | 2465 / 650 |
| 2.4M       |  34 / 120 | 1388 / 638 | 4228 / 1500 |  39 / 122 | 1637 / 460 | 4432 / 870 |

``_spmv`` is a ``bincount`` and wins on the driver at every size; the
sort-based ``_mode`` (LPA) is the slowest kernel, and its driver round
is last no slower at 100k rows under ``local[2]`` (140k under
``local[4]``). A worker round costs ~0.1 s of job overhead whatever its
size.

Worker placement. An id-typed ``(src, dst)`` edge frame is bucketed once by
``dst % nblocks`` into per-task shard files written **by the Python
workers themselves** — one ``mapInPandas`` pass over the frame's existing
partitions, each task streaming its Arrow batches straight to raw
per-bucket ``(src, dst_local)`` column files (no repartition shuffle, no
Parquet encode, and crucially no Hadoop commit protocol: round 2 measured
the driver-serial commit/rename of a JVM dynamic-partitioned Parquet
write as a FLAT ~70 s phase at 2, 8 and 32 cores — the entire N→4N
scaling miss; plain worker-side file writes are embarrassingly parallel).
Shards store **bucket-local dst indices** (``dst // nblocks``), so a
bucket's accumulator is ``n/nblocks`` long — L2-resident instead of an
n-length memset per shard.

A round (:meth:`EdgeBlocks.gather`) broadcasts the dense vertex state
(ids are dense 0..n-1 by construction — see ids.py) and runs a per-bucket
numpy kernel over the bucket's mmapped shard columns inside an RDD
``mapPartitions`` over the ~nblocks-item bucket→paths control list (a
DataFrame here adds Catalyst planning + Arrow stream setup to every
round; see :func:`_bucket_task`). Each dst belongs to exactly one bucket,
so each vertex's value arrives from exactly one task and the driver
ASSIGNS the collected buffers into the n-vector: per round, one n-vector
broadcast out and nblocks dense buffers back — no join and no shuffle.

Either placement is the right physical strategy while the vertex state
fits the driver/executor memory; :data:`DRIVER_STATE_MAX_VERTICES` is
that bound for every kernel on the store, and each kernel keeps a
pure-dataflow path above it.

Cluster-safety: edge blocks live under the SparkContext checkpoint
directory (set by session.get_spark / setCheckpointDir). When that
directory is a plain/``file:`` path (local mode, or a shared mount on a
cluster) the parallel worker-side writer above is used. When it is a
remote Hadoop FS (hdfs://, s3://) — where Python workers cannot
``open()`` paths — the build falls back to a JVM dynamic-partitioned
Parquet write, block paths are discovered via inputFiles() and read
with pyarrow's URI-aware reader, so the same code runs everywhere; the
commit-protocol cost is then the FS's problem (object-store committers,
not the local-rename path measured here).
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import time
import uuid as _uuid
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

#: The cache level of every frame the Graph, the vocab build and the
#: graph kernels persist: deserialized columnar. Kernels re-read their
#: persisted frames every pass, and the serialized level cost ~1.5x to
#: build and ~3.5x per re-read at 2e8 rows (measured).
STORAGE = StorageLevel.MEMORY_AND_DISK_DESER

#: Largest vertex count a kernel holds as a dense driver-side vector and
#: runs on the edge-block store (8 bytes/vertex of float64 state: ~80 MB
#: at 10^7). Above it, kernels fall back to their pure-dataflow paths.
DRIVER_STATE_MAX_VERTICES = 10_000_000

#: Largest Graph, in ``num_edge_rows``, whose stores are held on the
#: driver (:class:`DriverBlocks`); a canonical form has at most twice
#: as many rows. Set by the round timings in the module docstring.
#: ``Graph.from_edges`` also interns an input of at most this many rows
#: on the driver.
DRIVER_STORE_MAX_EDGE_ROWS = 100_000

#: worker-process block cache: {(store_token, block_file): (src, dst)}.
#: The per-round input to Python workers is only a list of BLOCK FILE
#: PATHS — re-shipping 10^7-10^8 Arrow rows JVM→Python every round is
#: exactly what this avoids. Local blocks are memory-mapped (Parquet
#: blocks are pyarrow-decoded to ``.npy`` sidecars once first): the OS
#: page cache holds the single shared copy for every worker on the node,
#: so the unstable task→worker binding costs an mmap open, not a decode.
#: Remote (hdfs://, s3://) blocks fall back to a per-process materialized
#: cache under the byte budget below.
_BLOCK_CACHE: dict = {}

#: per-worker cache budget in bytes (task→worker binding is not stable,
#: so a worker can accumulate many blocks over a long fit; evict FIFO
#: beyond this). Uncached blocks are re-read from Parquet — cheap.
_CACHE_BYTES = 2_000_000_000

#: per-worker cap on cached mmap ENTRIES: each np.load(mmap_mode="r")
#: holds an open file descriptor until evicted, and a long fit can walk a
#: worker across many buckets' shards (unstable task→worker binding).
#: 512 entries = 1024 fds worst case, inside a default RLIMIT_NOFILE;
#: eviction costs one re-mmap on the next touch, no decode.
_MMAP_CACHE_ENTRIES = 512


def _cache_size() -> int:
    # memmapped entries are page-cache-backed, not process-private
    return sum(
        sum(a.nbytes for a in arrs)
        for arrs in _BLOCK_CACHE.values()
        if not isinstance(arrs[0], np.memmap)
    )


def _as_local_path(path: str) -> str | None:
    """Plain or ``file:`` path → POSIX path; other schemes → None."""
    if path.startswith("file:"):
        from urllib.parse import urlparse

        return urlparse(path).path
    if "://" not in path and not path.startswith(("hdfs:", "s3:", "s3a:")):
        return path
    return None


#: sidecar suffixes: src column + BUCKET-LOCAL dst column (dst//nblocks)
_SIDECARS = (".src", ".dstl")


def _read_parquet_block(path: str, nblocks: int):
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["src", "dst"])
    # row order is not part of the block contract (kernels scatter-add
    # or sort); dst is localized to its bucket here so the accumulator
    # is n/nblocks long regardless of block origin
    dst = t.column("dst").to_numpy()
    return (
        np.ascontiguousarray(t.column("src").to_numpy()),
        np.ascontiguousarray(dst // nblocks),
    )


def _cache_put_mmap(key, arrs):
    # mmaps hold no process-private memory (page-cache-backed), but
    # each holds an open fd — cap ENTRIES, not bytes
    token = key[0]
    _BLOCK_CACHE[key] = arrs
    for k in list(_BLOCK_CACHE):
        if k[0] != token:
            del _BLOCK_CACHE[k]
    while len(_BLOCK_CACHE) > _MMAP_CACHE_ENTRIES:
        _BLOCK_CACHE.pop(next(iter(_BLOCK_CACHE)))


def _load_block(token: str, path: str, nblocks: int, ext: str):
    """Return ``(src, dst_local)`` columns for one shard/block.

    ``path`` is either a raw shard PREFIX written by the parallel
    worker-side builder (columns at ``<prefix>.src.<ext>`` /
    ``<prefix>.dstl.<ext>``, raw little-endian ``ext``∈{i32,i64}) or a
    Parquet block file from the portable JVM writer.
    """
    key = (token, path)
    arrs = _BLOCK_CACHE.get(key)
    if arrs is not None:
        return arrs

    local = _as_local_path(path)
    dtype = np.int32 if ext == "i32" else np.int64

    if local is not None and not path.endswith(".parquet"):
        # raw shard prefix from the parallel builder — mmap directly.
        # Task→worker binding is unstable, so per-PROCESS caches miss
        # constantly; memory-mapped columns make the OS page cache the
        # single shared copy across every Python worker on the node — a
        # re-"load" after the first touch is two mmap opens, no
        # decompress, no copy.
        arrs = tuple(
            np.memmap(f"{local}{s}.{ext}", dtype=dtype, mode="r")
            if os.path.getsize(f"{local}{s}.{ext}")
            else np.empty(0, dtype=dtype)
            for s in _SIDECARS
        )
        _cache_put_mmap(key, arrs)
        return arrs

    if local is not None:
        # local Parquet block (portable writer on a file: checkpoint
        # dir): converted to npy sidecars by the first toucher (atomic
        # renames; racers convert redundantly and lose), mmapped after.
        sidecars = [f"{local}{s}.npy" for s in _SIDECARS]
        if not all(os.path.exists(s) for s in sidecars):
            cols = _read_parquet_block(local, nblocks)
            for s, a in zip(sidecars, cols):
                tmp = f"{s}.tmp.{os.getpid()}"
                with open(tmp, "wb") as f:
                    np.save(f, a)
                os.replace(tmp, s)
        arrs = tuple(np.load(s, mmap_mode="r") for s in sidecars)
        _cache_put_mmap(key, arrs)
        return arrs

    # remote block (hdfs:// etc.): materialized per-process cache with a
    # FIFO budget (dicts preserve insertion order; keep the newest entry)
    arrs = _read_parquet_block(path, nblocks)
    for k in list(_BLOCK_CACHE):
        if k[0] != token:
            del _BLOCK_CACHE[k]
    _BLOCK_CACHE[key] = arrs
    while _cache_size() > _CACHE_BYTES and len(_BLOCK_CACHE) > 1:
        _BLOCK_CACHE.pop(next(iter(_BLOCK_CACHE)))
    return arrs


def _shared_mount_probe(spark: SparkSession, local_dir: str) -> bool:
    """True iff every executor can read a file the driver just wrote
    under ``local_dir``.

    The fast worker-side shard writer requires the ``file:`` checkpoint
    dir to be a SHARED mount on a multi-node cluster — a node-local path
    would hold shards that gather tasks on other nodes cannot open
    (FileNotFoundError mid-iteration, round-3 verdict). Local masters
    trivially share the driver's filesystem and skip the probe; on a
    cluster this runs one tiny job (one task per default-parallelism
    slot) that checks visibility from every node the job lands on and
    reports the hostnames that cannot see the file.
    """
    sc = spark.sparkContext
    if sc.master.startswith("local"):
        return True
    os.makedirs(local_dir, exist_ok=True)
    probe = os.path.join(local_dir, f"_mount_probe_{_uuid.uuid4().hex}")
    with open(probe, "w") as f:
        f.write("propagon edge-block shared-mount probe")
    try:
        import socket

        def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            seen = os.path.exists(probe)
            yield pd.DataFrame(
                {"host": [socket.gethostname()], "ok": [bool(seen)]}
            )

        width = max(2, sc.defaultParallelism)
        rows = (
            spark.range(width)
            .repartition(width)
            .mapInPandas(check, schema="host string, ok boolean")
            .collect()
        )
        bad = sorted({r["host"] for r in rows if not r["ok"]})
        if bad:
            import logging

            logging.getLogger("propagon_spark.blocks").warning(
                "checkpoint dir %s is NOT a shared mount (invisible from "
                "node(s) %s) — falling back to the portable JVM Parquet "
                "block writer; point the checkpoint dir at a shared "
                "filesystem (NFS/HDFS/S3) to re-enable the fast "
                "worker-side shard path",
                local_dir, ", ".join(bad),
            )
        return not bad
    finally:
        try:
            os.remove(probe)
        except OSError:
            pass


def _shard_writer_factory(blocks_dir: str, nblocks: int, np_dtype, ext: str):
    """Parallel worker-side shard build (the scaling fix).

    One ``mapInPandas`` pass over the edge frame: each task splits its
    partition's Arrow batches by ``dst % nblocks`` and appends the
    ``(src, dst // nblocks)`` columns to raw per-(task, bucket) files —
    plain streamed ``ndarray.tofile`` appends, O(batch) memory, no
    Parquet encode, no commit protocol. Files are written under
    temp names and atomically renamed at task end, so task retries are
    safe (a retry overwrites with identical content). Yields one
    ``(bucket, path-prefix)`` row per non-empty bucket and one
    ``bucket = -1`` row whose ``ids``/``counts`` buffers are the task's
    sparse per-src edge counts (the store's degree vector, with no job
    of its own).
    """

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId()
        tmp_sfx = f".tmp{tc.attemptNumber()}.{os.getpid()}"
        os.makedirs(blocks_dir, exist_ok=True)
        handles: dict[int, tuple] = {}
        edge = np.arange(nblocks + 1)
        degs = []
        for pdf in batches:
            src = pdf["src"].to_numpy()
            dst = pdf["dst"].to_numpy()
            degs.append(np.unique(src, return_counts=True))
            b = dst % nblocks
            order = np.argsort(b, kind="stable")
            bs = b[order]
            ssrc = src[order].astype(np_dtype, copy=False)
            sdstl = (dst[order] // nblocks).astype(np_dtype, copy=False)
            bounds = np.searchsorted(bs, edge)
            for bucket in range(nblocks):
                lo, hi = bounds[bucket], bounds[bucket + 1]
                if lo == hi:
                    continue
                h = handles.get(bucket)
                if h is None:
                    prefix = os.path.join(
                        blocks_dir, f"shard_p{pid:05d}_b{bucket:05d}"
                    )
                    h = (
                        prefix,
                        open(f"{prefix}.src.{ext}{tmp_sfx}", "wb"),
                        open(f"{prefix}.dstl.{ext}{tmp_sfx}", "wb"),
                    )
                    handles[bucket] = h
                ssrc[lo:hi].tofile(h[1])
                sdstl[lo:hi].tofile(h[2])
        rows = []
        for bucket, (prefix, fsrc, fdstl) in handles.items():
            rows.append((bucket, prefix, None, None))
            fsrc.close()
            fdstl.close()
            for s in _SIDECARS:
                os.replace(f"{prefix}{s}.{ext}{tmp_sfx}", f"{prefix}{s}.{ext}")
        if degs:
            ids, inv = np.unique(np.concatenate([u for u, _ in degs]),
                                 return_inverse=True)
            counts = np.bincount(inv, np.concatenate([c for _, c in degs]))
            rows.append((-1, None, ids.astype(np_dtype).tobytes(),
                         counts.astype(np.int64).tobytes()))
        if rows:
            yield pd.DataFrame(rows, columns=["bucket", "path", "ids", "counts"])

    return write


#: a per-bucket kernel: ``(state, blocks, nlocal) -> accumulator``, where
#: ``blocks`` lists the bucket's ``(src, dst_local)`` column pairs (one
#: per shard; a dst's edges may span several) and the accumulator holds
#: ``nlocal`` values for the bucket's dst ids ``bucket + i·nblocks``
Kernel = Callable[[object, list, int], np.ndarray]


def _bucket_task(kernel: Kernel, state_bc, token: str, nblocks: int,
                 ext: str, nlocal: int):
    """Per-partition body of a round over the bucket control RDD. Each
    item carries one bucket's ';'-joined shard prefixes / block files
    (all edges with the same ``dst % nblocks``); the task returns each
    bucket's accumulator as ONE dense buffer (~n/nblocks values), not
    (dst, value) rows: an n-row Arrow collect plus pandas frame
    construction was ~1 s of per-round FIXED cost at n=10⁶ (measured —
    the serial term that capped N→4N efficiency once the block write
    scaled); ~nblocks binary tuples assemble on the driver with strided
    numpy assignment instead.

    This is a plain RDD ``mapPartitions`` body, not a pandas UDF: the
    control plane is ~nblocks tiny rows per round, and routing them
    through a DataFrame re-runs Catalyst analysis/optimization/codegen
    plus Arrow stream setup EVERY round. Round 4 measured ~0.6 s of
    per-job fixed cost for that at any core count (BENCH/RUNS.md phase
    tables), but most of it was the per-task Python worker start-up that
    ``propagon_spark._daemon`` removes. Re-measured with the engine
    daemon (4-core host, ``local[2]``, 2 tasks, median of 10 jobs): a
    ``mapInPandas`` job over a 16-row frame takes 0.21-0.24 s wall, the
    same RDD job 0.11 s (stock daemon: 0.38 and 0.27 s). A whole CSR
    PageRank turn on the 93.7k-edge ``pagerank-cold`` bench graph
    (broadcast, gather, driver update) is ~0.1 s. The data plane (the
    edge blocks) stays mmap'd raw columns + numpy; only the
    bucket→paths routing rides the RDD."""

    def run(items: Iterator[tuple]) -> Iterator[tuple]:
        state = state_bc.value
        for bucket, paths in items:
            blocks = [
                _load_block(token, p, nblocks, ext) for p in paths.split(";")
            ]
            yield int(bucket), kernel(state, blocks, nlocal).tobytes()

    return run


class EdgeBlocks:
    """A built edge-block store: the bucket control RDD plus the block
    directory it names, deleted by :meth:`unpersist`.

    Attributes:
        n: vertex count (length of every gathered vector).
        nblocks: bucket count (the layout; see :func:`build`).
        dtype: the id dtype of the shard columns (int32 below 2³¹
            vertices, else int64).
        src_degree: int64 n-vector, each vertex's edge count as ``src``
            (taken from the build job, not a job of its own).
        edge_rows: edges written (``src_degree.sum()``).
        bcast_s / gather_s: accumulated per-round broadcast and
            gather-plus-assembly time.
    """

    def __init__(self, spark, blocks_dir, n, nblocks, ext, by_bucket,
                 src_degree):
        self._sc = spark.sparkContext
        self._spark = spark
        self._dir = blocks_dir
        self._ext = ext
        self._token = _uuid.uuid4().hex
        self.n = n
        self.nblocks = nblocks
        self.dtype = np.int32 if ext == "i32" else np.int64
        self.src_degree = src_degree
        self.edge_rows = int(src_degree.sum())
        self.bcast_s = 0.0
        self.gather_s = 0.0
        self._nlocal = (n + nblocks - 1) // nblocks
        # one item per bucket → exactly one task owns each dst range.
        # TASK granularity is decoupled from the BUCKET layout: a task
        # carries fixed cost (Python worker round-trip), so slices =
        # min(buckets, slots) and each task folds several buckets
        # sequentially — the layout stays pinned across parallelism
        # levels while the per-round task count tracks the session's
        # width. A plain parallelized RDD, not a DataFrame (see
        # _bucket_task): the job ships these rows in the task binary.
        items = [(b, ";".join(sorted(ps))) for b, ps in sorted(by_bucket.items())]
        self._rdd = self._sc.parallelize(
            items, max(1, min(len(items), self._sc.defaultParallelism))
        )

    def gather(self, kernel: Kernel, state, dtype) -> np.ndarray:
        """One round: broadcast ``state``, run ``kernel`` on every
        bucket, and return the n-vector (``dtype``) the buckets' buffers
        assemble into. Vertices of empty buckets read 0."""
        t0 = time.monotonic()
        state_bc = self._sc.broadcast(state)
        t_b = time.monotonic()
        self.bcast_s += t_b - t0
        try:
            parts = self._rdd.mapPartitions(
                _bucket_task(kernel, state_bc, self._token, self.nblocks,
                             self._ext, self._nlocal)
            ).collect()
        finally:
            state_bc.destroy()
        # bucket b owns global ids {b, b+nblocks, ...}: local index i
        # maps to global b + i·nblocks, so each buffer lands as one
        # strided numpy assignment — no row decode, no join
        out = np.zeros(self.n, dtype)
        for b, raw in parts:
            view = out[b::self.nblocks]
            view[:] = np.frombuffer(raw, dtype=dtype)[: len(view)]
        self.gather_s += time.monotonic() - t_b
        return out

    def unpersist(self) -> None:
        _hadoop_rm(self._spark, self._dir)


class DriverBlocks(EdgeBlocks):
    """A store held in driver memory as ONE bucket: ``nblocks = 1``, so
    ``dst_local`` is ``dst``. :meth:`gather` calls the kernel in this
    process: no broadcast, no job, no shard file, no Python worker."""

    def __init__(self, n: int, src: np.ndarray, dst: np.ndarray):
        self.n = n
        self.nblocks = 1
        self.dtype = np.int32 if n <= 2**31 - 1 else np.int64
        self.src_degree = np.bincount(src, minlength=n)
        self.edge_rows = len(src)
        self.bcast_s = 0.0
        self.gather_s = 0.0
        self._bucket = [(src.astype(self.dtype), dst.astype(self.dtype))]

    def gather(self, kernel: Kernel, state, dtype) -> np.ndarray:
        t0 = time.monotonic()
        out = kernel(state, self._bucket, self.n).astype(dtype, copy=False)
        self.gather_s += time.monotonic() - t0
        return out

    def unpersist(self) -> None:
        self._bucket = []


def build(edges: DataFrame, n: int) -> EdgeBlocks:
    """Build the worker store of ``edges`` (id-typed ``(src, dst)`` over
    dense ids 0..n-1), a canonical form of a Graph above
    :data:`DRIVER_STORE_MAX_EDGE_ROWS`: dst-bucketed blocks under the
    session checkpoint dir.

    Blocks hold ONLY (src, dst) — int32 below 2^31 vertices, 8
    bytes/edge; anything per-vertex (PageRank's inverse out-degree,
    k-core's H values) rides the broadcast state instead. ``edges`` is
    read once on the worker-side shard path; the portable path persists
    it for its two reads (per-src counts + write)."""
    ext = "i32" if n <= 2**31 - 1 else "i64"
    spark = edges.sparkSession
    sc = spark.sparkContext
    # a path all executors can read — on a cluster that's HDFS/S3 or a
    # shared mount, never the driver's /tmp
    ckdir = sc.getCheckpointDir()
    if ckdir:
        blocks_dir = ckdir.rstrip("/") + f"/csr_blocks_{_uuid.uuid4().hex}"
    else:
        blocks_dir = tempfile.mkdtemp(prefix="propagon_csr_")
    # Bucket count is a LAYOUT parameter, decoupled from the core count
    # (round 2 coupled it to defaultParallelism, which confounded N→4N
    # scaling runs: different levels wrote different file/bucket layouts).
    # Default: enough buckets for full parallelism at the session's width,
    # never fewer than 16 so narrow sessions still produce a layout a
    # wider reader can use; pin via PROPAGON_CSR_NBLOCKS for controlled
    # comparisons (BENCH/scaling.py pins 32 at every level).
    nblocks = int(os.environ.get("PROPAGON_CSR_NBLOCKS", "0")) or max(
        16, sc.defaultParallelism
    )
    src_degree = np.zeros(n, np.int64)
    try:
        by_bucket = _write_blocks(
            spark, edges, blocks_dir, nblocks, ext, src_degree
        )
    except BaseException:
        _hadoop_rm(spark, blocks_dir)
        raise
    return EdgeBlocks(spark, blocks_dir, n, nblocks, ext, by_bucket, src_degree)


def _write_blocks(spark, edges, blocks_dir, nblocks, ext, src_degree):
    """Write the blocks and add each src's edge count into
    ``src_degree``; return ``{bucket: [paths]}``."""
    by_bucket: dict[int, list[str]] = {}
    local_blocks_dir = _as_local_path(blocks_dir)
    if local_blocks_dir is not None and not _shared_mount_probe(
        spark, local_blocks_dir
    ):
        local_blocks_dir = None  # node-local path on a cluster: portable path
    if local_blocks_dir is not None:
        # FAST PATH (plain/file: checkpoint dir — local mode or a shared
        # mount): parallel worker-side raw shard write. One mapInPandas
        # pass over the frame's existing partitions; every task streams
        # its own per-bucket files — no repartition shuffle, no Parquet
        # encode, and NO Hadoop commit protocol. Round 2's JVM
        # dynamic-partitioned Parquet write spent ~70 s FLAT at 2/8/32
        # cores in the driver-serial commit/rename of partitions×nblocks
        # files; the Arrow feed this pass pays instead is ~28 core-s per
        # 10^8 rows — parallel, so it actually scales with cores.
        os.makedirs(local_blocks_dir, exist_ok=True)
        np_dtype = np.int32 if ext == "i32" else np.int64
        conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old_batch = spark.conf.get(conf_key, "10000")
        spark.conf.set(conf_key, str(1 << 20))  # fewer, larger batches
        try:
            rows = (
                edges.select("src", "dst")
                .mapInPandas(
                    _shard_writer_factory(
                        local_blocks_dir, nblocks, np_dtype, ext
                    ),
                    schema="bucket int, path string, ids binary, counts binary",
                )
                .collect()
            )
        finally:
            spark.conf.set(conf_key, old_batch)
        for r in rows:
            if r["bucket"] < 0:
                # one task's srcs are distinct: an indexed add suffices
                src_degree[np.frombuffer(r["ids"], np_dtype)] += np.frombuffer(
                    r["counts"], np.int64
                )
            else:
                by_bucket.setdefault(int(r["bucket"]), []).append(r["path"])
        return by_bucket

    # PORTABLE PATH (hdfs://, s3://, …): JVM-only dynamic-partitioned
    # Parquet write straight off the frame's partitions; gather tasks
    # decode their bucket's files with pyarrow's URI-aware reader on
    # first touch.
    edges = edges.persist(STORAGE)
    try:
        deg = edges.groupBy("src").agg(F.count("*").alias("c")).toArrow()
        src_degree[deg.column("src").to_numpy()] = deg.column("c").to_numpy()
        id_type = "int" if ext == "i32" else "long"
        (
            edges.select(
                F.col("src").cast(id_type),
                F.col("dst").cast(id_type),
                F.pmod(F.col("dst"), F.lit(nblocks)).cast("int").alias("bucket"),
            )
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(blocks_dir)
        )
    finally:
        edges.unpersist()
    # file listing through Spark, not os.listdir — works on any Hadoop FS
    try:
        block_files = spark.read.parquet(blocks_dir).inputFiles()
    except Exception:  # zero-row write leaves no files to infer from
        block_files = []
    for f in block_files:
        m = re.search(r"bucket=(\d+)", f)
        if m:
            by_bucket.setdefault(int(m.group(1)), []).append(f)
    return by_bucket


def _hadoop_rm(spark, path: str) -> None:
    """Recursive delete through the Hadoop FS API (scheme-agnostic)."""
    try:
        jvm = spark._jvm  # noqa: SLF001
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
        fs.delete(jpath, True)
    except Exception:  # no JVM (the session is stopped)
        shutil.rmtree(_as_local_path(path) or path, ignore_errors=True)
