"""SparkSession factory tuned for iterative graph workloads.

Arrow on (all custom math is pandas/Arrow-vectorized — no per-row Python,
per the input_hint), AQE on (runtime skew-join splitting + partition
coalescing as backstop to our explicit salting), and a checkpoint dir for
lineage truncation in driver-controlled iteration loops.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _memory_limit_bytes() -> int:
    """Effective memory ceiling: min(MemTotal, cgroup limit).

    /proc/meminfo reports HOST memory inside cgroup-limited containers,
    so sizing from it alone can promise a heap the container cannot back
    (JVM gets OOM-killed on first big allocation). Check both cgroup v2
    (``memory.max``) and v1 (``limit_in_bytes``); "max" / absent /
    absurdly-large sentinel values mean unlimited.
    """
    with open("/proc/meminfo") as f:
        kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    limit = kb * 1024
    for p in (
        "/sys/fs/cgroup/memory.max",  # v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # v1
    ):
        try:
            with open(p) as f:
                raw = f.read().strip()
            if raw != "max" and int(raw) < limit:
                limit = int(raw)
        except (OSError, ValueError):
            continue
    return limit


def _default_driver_mem() -> str:
    """min(48g, ~60% of min(MemTotal, cgroup limit)): big enough for
    cores × per-task hash-agg/join state on the bench box (8g starved 32
    threads over a 222M-row graph), without promising a heap a smaller
    host (or a cgroup-limited container) cannot back — JVM heap, tmpfs
    shuffle spill and RAM-backed checkpoints all compete for the same
    physical memory. PROPAGON_DRIVER_MEM wins."""
    try:
        gib = _memory_limit_bytes() / 2**30
        return f"{max(2, min(48, int(gib * 0.6)))}g"
    except Exception:  # non-Linux — let the user size it
        return "4g"


def get_spark(
    app_name: str = "propagon-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Parameters default from env so the same code runs in tests
    (``local[4]``), the driver's bench (``local[$SPARK_GRAFT_CPUS]``), and a
    real cluster (spark-submit sets master; our settings only touch SQL conf).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("PROPAGON_SPARK_MASTER", f"local[{cpus}]")

    # make propagon_spark importable in Python workers: without this,
    # cloudpickle serializes our UDF closures BY VALUE — every query ships
    # a fresh copy of the module globals, which silently defeats the
    # worker-resident edge-block cache (plans.blocks._BLOCK_CACHE) and
    # re-imports nothing. On a cluster, ship the package with
    # ``spark-submit --py-files`` instead.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("PROPAGON_SHUFFLE_PARTITIONS", cpus)
        )

    # Scratch I/O placement decides whether shuffles scale with cores in
    # local mode: /tmp is typically disk-backed (serial IO ceiling), so
    # prefer tmpfs when it exists. On a real cluster spark.local.dir is
    # the node-local SSD set by the cluster manager — the env override
    # wins everywhere.
    # tmpfs only when it can comfortably hold the scratch footprint —
    # on a small host "spill to /dev/shm" is spill to RAM and can OOM
    # the machine (and tmpfs contents are lost on reboot)
    local_dir = os.environ.get("PROPAGON_LOCAL_DIR")
    if local_dir is None:
        shm = "/dev/shm"
        shm_ok = os.path.isdir(shm) and os.access(shm, os.W_OK)
        if shm_ok:
            try:
                shm_ok = shutil.disk_usage(shm).free >= 16 * 2**30
            except OSError:
                shm_ok = False
        local_dir = (
            os.path.join(shm, "propagon_spark_local")
            if shm_ok
            else os.path.join(tempfile.gettempdir(), "propagon_spark_local")
        )
    os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.local.dir", local_dir)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode runs every task thread inside the driver JVM: size the
        # heap for cores × per-task hash-agg/join state or large distincts
        # spill on arrival. Lazily committed — small jobs don't take the
        # full heap in RSS; capped at ~60% of system RAM (_default_driver_mem).
        .config(
            "spark.driver.memory",
            os.environ.get("PROPAGON_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        # Iterative kernels re-bind their state frame every loop turn
        # (ranks = truncate_lineage(...)); the PREVIOUS turn's
        # localCheckpoint blocks and shuffle files are only reaped when a
        # JVM GC lets the ContextCleaner see the dead references. On big
        # heaps (48-96g here) organic GC is so rare that a long
        # convergence fit accumulates every iteration's state on local
        # disk — measured: a 103.8M-vertex / 591.5M-edge fit at ~5 GB of
        # checkpoint blocks + shuffle per iteration filled a 75 GB
        # scratch volume in minutes (BENCH/RUNS.md, round 5).
        # The default 30min periodic-GC cadence is tuned for streaming;
        # 2min bounds in-flight orphaned state to a few iterations at
        # negligible GC cost (System.gc on a mostly-dead young gen).
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("PROPAGON_PERIODIC_GC", "2min"),
        )
        # pyspark.daemon plus a zipimport fix: on CPython < 3.13 every
        # Python task re-read pyspark.zip's directory, ~0.2 s of fixed
        # cost per task (see _daemon.py). Executors must import
        # propagon_spark, as the CSR kernel already requires.
        .config("spark.python.daemon.module", "propagon_spark._daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    if checkpoint_dir is None:
        # co-locate durable iteration state (and the CSR block store that
        # lives under it) with the fast scratch dir
        checkpoint_dir = os.environ.get(
            "PROPAGON_CHECKPOINT_DIR",
            os.path.join(os.path.dirname(local_dir), "propagon_spark_ckpt"),
        )
    os.makedirs(checkpoint_dir, exist_ok=True)
    spark.sparkContext.setCheckpointDir(checkpoint_dir)
    return spark
