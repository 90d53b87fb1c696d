"""propagon_spark benchmark: seeded inputs, public-API workloads, oracle
checks, end-to-end metrics from untraced passes and per-layer metrics
from a traced run.

Run from the repository root::

    python3 perfbench/run.py --workload pagerank-cold --seed 1 --seconds 16 --trace 0

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. The full record of a
run (environment, input properties, every sample, every span) is written
to ``perfbench/_work/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

from spans import NullTracer, Sampler, Span, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

#: the driver heap; the machine is shared
DRIVER_MEMORY = "3g"


def task_threads() -> int:
    """Spark task threads: half the cores this process may run on. On a
    shared host a session that asks for every core waits on its
    co-tenants; half leaves room for the driver, the Python workers and
    the JVM's own threads."""
    return max(1, len(os.sched_getaffinity(0)) // 2)

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}
#: per-call counters of the traced run
COUNTERS = {
    "s": "s",
    "jobs": "count",
    "tasks": "count",
    "exec_run_s": "s",
    "gc_s": "s",
    "shuffle_read_records": "count",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "cache_leak_mb": "MB",
}
CALLS = (
    "session.get_spark",
    "sources.derive_edges",
    "graph.core.from_edges",
    "graph.pagerank",
    "graph.components",
    "graph.lpa",
    "graph.kcore",
    "graph.hits",
    "graph.triangles",
    "streaming.process_batch",
)
#: calls with a ``progress=`` hook get the setup / iterate / emit split
ITERATIVE = ("graph.pagerank", "graph.components", "graph.hits")
ITER_UNITS = {"setup_s": "s", "iter_s": "s", "iterations": "count", "emit_s": "s"}
EXTRA = {
    "pass.cold_s": "s",
    "pass.wall_s": "s",
    "pass.peak_cache_mb": "MB",
    "pass.peak_scratch_mb": "MB",
    "graph.pagerank.edges_per_s": "1/s",
    "streaming.batch_s.p50": "s",
    "streaming.batch_s.p90": "s",
    "plans.checkpoint.mb_written": "MB",
    "plans.checkpoint.files": "count",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_jobs": "count",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{c}.{k}": u for c in CALLS for k, u in COUNTERS.items()}
    units.update({f"{c}.{k}": u for c in ITERATIVE for k, u in ITER_UNITS.items()})
    units.update(EXTRA)
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("pagerank-cold", "graph-suite"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: steal is time a co-tenant of
    the host took from this machine."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of this
    process plus process ``root`` and all its descendants."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        children.setdefault(pp, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, []))
    own = os.times()
    return total / os.sysconf("SC_CLK_TCK") + own.user + own.system


def source_digest() -> str:
    """sha256 over the engine's Python sources (the checkout may not be a
    git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "propagon_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(os.path.relpath(os.path.join(d, f), pkg).encode() + fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def isolate(run_dir: str) -> dict[str, str]:
    """Keep every write inside the checkout and no engine knob set: all
    ``PROPAGON_*`` variables are dropped, then only the scratch location
    is pointed at this run's directory."""
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "ckpt", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    for k in [k for k in os.environ if k.startswith("PROPAGON_")]:
        del os.environ[k]
    os.environ["PROPAGON_LOCAL_DIR"] = dirs["local"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    return dirs


def make_session(dirs, threads: int, trace: bool):
    from propagon_spark import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": dirs["local"],
        # GC, JIT and pool threads sized to the task threads, not the host
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -XX:ActiveProcessorCount={threads} -Djava.io.tmpdir={dirs['tmp']}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # the status REST endpoint; keep every job and stage of the run
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.retainedTasks": "1",
            "spark.sql.ui.retainedExecutions": "10",
        })
    spark = get_spark(
        app_name="propagon-perfbench",
        master=f"local[{threads}]",
        shuffle_partitions=threads,
        checkpoint_dir=dirs["ckpt"],
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_gateway() -> None:
    """Stop the driver JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def warm_passes(wl, seconds: float) -> int:
    """The number of warm passes: as many as take ``seconds`` on a quiet
    host, and at least two. It is fixed by ``seconds`` alone, so a slow
    run measures the same passes as a fast one; the passes still speed up
    while the JIT compiles, and a count that followed the clock would
    report earlier, slower passes whenever the host is busy."""
    return max(2, round(seconds / wl.pass_s))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    if not xs:
        return 0.0
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Run:
    def __init__(self, args, dirs, run_id, t_import):
        self.args = args
        self.t_import = t_import
        self.dirs = dirs
        self.run_id = run_id
        self.nproc = len(os.sched_getaffinity(0))
        self.threads = task_threads()
        self.attempted = 0
        self.problems: list[str] = []
        self.passes: list[dict] = []
        self.setup_s = 0.0
        self.stream: list[dict] = []

    def score(self, label: str, checks) -> None:
        for op, problem in checks:
            self.attempted += 1
            if problem is not None:
                self.problems.append(f"{label}/{op}: {problem}")

    def measure(self, wl, tracer) -> None:
        """One session, as a one-shot job pays it: the set-up runs from the
        engine import to the workload being ready, the cold pass is the
        session's first pass."""
        trace = tracer.enabled
        with tracer.span("session.get_spark") as sp:
            spark = make_session(self.dirs, self.threads, trace)
            spark.range(1).count()
            if sp is not None:
                sp.session = spark
        try:
            wl.prepare(spark, tracer)
            self.setup_s = time.perf_counter() - self.t_import
            self.spark_version = spark.version
            self.java_version = spark.sparkContext._jvm.System.getProperty("java.version")
            # the peaks are per-layer metrics: untraced passes are not sampled
            sampler = Sampler(spark, [self.dirs["local"], self.dirs["ckpt"]]) if trace else None
            try:
                self._passes(spark, wl, tracer, sampler)
                if trace:
                    checks, self.stream = wl.standalone(spark, tracer)
                    self.score("standalone", checks)
                    tracer.collect(spark)
            finally:
                if sampler is not None:
                    sampler.close()
        finally:
            wl.release()
            spark.stop()

    def _passes(self, spark, wl, tracer, sampler) -> None:
        from pyspark import SparkContext

        null = NullTracer()
        jvm = SparkContext._gateway.proc.pid

        def one(kind: str) -> None:
            if sampler is not None:
                sampler.reset()
            load = loadavg()
            steal0, total0 = cpu_ticks()
            cpu0 = tree_cpu_s(jvm)
            t = time.perf_counter()
            results = None
            try:
                if kind == "traced":
                    with tracer.span("pass", spark):
                        results = wl.run_pass(spark, tracer)
                else:
                    results = wl.run_pass(spark, null)
            except Exception as e:  # a failed pass counts, the run goes on
                error = f"raised {e!r}"[:500]
            dt = time.perf_counter() - t
            cpu = tree_cpu_s(jvm) - cpu0
            steal1, total1 = cpu_ticks()
            rec = {"kind": kind, "s": dt, "cpu_s": cpu, "loadavg": load,
                   "steal_frac": (steal1 - steal0) / max(1, total1 - total0)}
            if sampler is not None:
                rec["peak_cache_mb"], rec["peak_scratch_mb"] = sampler.peaks()
            checks = wl.check(results) if results is not None else [(op, error) for op in wl.ops]
            self.score(f"{kind}{len(self.passes)}", checks)
            self.passes.append(rec)

        one("cold")
        kinds = ("traced", "untraced") if tracer.enabled else ("warm",)
        for n in range(warm_passes(wl, self.args.seconds)):
            one(kinds[n % len(kinds)])

    def end_to_end(self) -> dict[str, float]:
        warm = [p for p in self.passes if p["kind"] == "warm"]
        return {
            "setup_s": self.setup_s,
            "cpu_s": median([p["cpu_s"] for p in warm]),
        }

    def per_layer(self, tracer, dedup_edges: int) -> dict[str, float]:
        units = per_layer_units()
        out = {k: 0.0 for k in units}
        # calls inside traced passes, plus set-up and standalone calls
        by_name: dict[str, list[Span]] = {}
        for sp in tracer.spans:
            if sp.name == "pass":
                continue
            by_name.setdefault(sp.name, []).append(sp)
        for name, sps in by_name.items():
            for k in COUNTERS:
                vals = [sp.s if k == "s" else sp.counters.get(k) for sp in sps]
                out[f"{name}.{k}"] = median([v for v in vals if v is not None])
            if name in ITERATIVE:
                ticked = [sp for sp in sps if sp.ticks]
                out[f"{name}.setup_s"] = median([sp.ticks[0] - sp.start for sp in ticked])
                out[f"{name}.iter_s"] = median(
                    [median([b - a for a, b in zip(sp.ticks, sp.ticks[1:])]) for sp in ticked if len(sp.ticks) > 1]
                )
                out[f"{name}.iterations"] = median([sp.iterations for sp in ticked])
                out[f"{name}.emit_s"] = median([sp.end - sp.ticks[-1] for sp in ticked])
        pr = by_name.get("graph.pagerank", [])
        out["graph.pagerank.edges_per_s"] = median([dedup_edges * sp.iterations / sp.s for sp in pr])
        if self.stream:
            secs = [b["s"] for b in self.stream]
            out["streaming.batch_s.p50"] = median(secs)
            out["streaming.batch_s.p90"] = percentile(secs, 0.9)
            out["plans.checkpoint.mb_written"] = median([b["ckpt_bytes"] / 2**20 for b in self.stream])
            out["plans.checkpoint.files"] = median([b["ckpt_files"] for b in self.stream])
        warm = self.passes[1:]
        out["pass.cold_s"] = self.passes[0]["s"]
        out["pass.wall_s"] = median([p["s"] for p in warm])
        out["pass.peak_cache_mb"] = median([p["peak_cache_mb"] for p in warm])
        out["pass.peak_scratch_mb"] = median([p["peak_scratch_mb"] for p in warm])
        passes = [sp for sp in tracer.spans if sp.name == "pass"]
        out["trace.wall_s"] = median([p["s"] for p in self.passes if p["kind"] == "traced"])
        out["trace.untraced_wall_s"] = median([p["s"] for p in self.passes if p["kind"] == "untraced"])
        out["trace.overhead_s"] = out["trace.wall_s"] - out["trace.untraced_wall_s"]
        out["trace.unattributed_jobs"] = sum(sp.counters.get("jobs", 0) for sp in passes)
        return out


def _terminate(signum, frame):
    # a TERM (e.g. from a timeout) unwinds through the finally blocks that
    # stop the JVM and remove the run's scratch directory
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isfile(os.path.join(ROOT, "propagon_spark", "__init__.py")):
        print(f"perfbench: no engine sources at {ROOT}/propagon_spark", file=sys.stderr)
        return 2
    import gen
    import oracle
    import workloads

    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(WORK, "runs", run_id)
    dirs = isolate(run_dir)
    load_start = loadavg()

    # inputs and oracles: cached per seed, never inside a timed region
    input_dir, props = gen.inputs(WORK, args.workload, args.seed)
    orc = oracle.oracles(WORK, args.workload, input_dir, gen.COMMIT_CAP)
    props.update({k[5:]: int(v) for k, v in orc.items() if k.startswith("prop_")})
    stream = None
    if args.trace and args.workload == "pagerank-cold":
        stream_dir, stream_props = gen.inputs(WORK, "refit-stream", args.seed)
        stream_orc = oracle.oracles(WORK, "refit-stream", stream_dir, gen.COMMIT_CAP)
        stream = (stream_dir, stream_orc, os.path.join(dirs["ckpt"], "refit"))
        props["refit_stream"] = stream_props

    t_import = time.perf_counter()
    sys.path.insert(0, ROOT)
    import propagon_spark  # noqa: F401  (set-up pays the engine import)

    if args.workload == "pagerank-cold":
        wl = workloads.PagerankCold(input_dir, orc, stream)
    else:
        wl = workloads.GraphSuite(input_dir, orc)
    tracer = Tracer(run_id) if args.trace else NullTracer()
    run = Run(args, dirs, run_id, t_import)

    try:
        run.measure(wl, tracer)
    finally:
        stop_gateway()
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = run.per_layer(tracer, props["dedup_edges"])
        units = per_layer_units()
    else:
        metrics = run.end_to_end()
        units = END_TO_END
    failed = len(run.problems)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_id": run_id,
        "env": {
            "nproc": run.nproc,
            "master": f"local[{run.threads}]",
            "driver_memory": DRIVER_MEMORY,
            "loadavg_start": load_start,
            "loadavg_end": loadavg(),
            "spark": run.spark_version,
            "java": run.java_version,
            "python": platform.python_version(),
            "engine_sha256": source_digest(),
            "git_commit": git_commit(),
        },
        "inputs": props,
        "setup_s": run.setup_s,
        "passes": run.passes,
        "stream": run.stream,
        "attempted": run.attempted,
        "failed": failed,
        "failed_frac": failed / max(1, run.attempted),
        "problems": run.problems,
        "metrics": metrics,
        "spans": tracer.dump() if args.trace else [],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{run_id}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)

    for p in run.problems:
        print(f"perfbench: FAILED {p}")
    warm = [p for p in run.passes if p["kind"] in ("warm", "untraced")]
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        f"setup={run.setup_s:.2f}s passes={len(run.passes)} warm={len(warm)} "
        f"wall={median([p['s'] for p in warm]):.2f}s cpu={median([p['cpu_s'] for p in warm]):.2f}s "
        f"failed={failed}/{run.attempted} record={os.path.relpath(out, ROOT)}"
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
