"""Spans, Spark counter attribution and the resource sampler.

Everything here observes the engine from outside its public API:

- a span is recorded around each public call the benchmark makes; it
  notes the DAG scheduler's next job and stage ids at entry and exit, so
  every job launched inside the call is attributed to it by id range
  (job groups are deliberately not used);
- once per Spark session the benchmark reads every stage from the
  application status REST endpoint and folds stage metrics (tasks,
  executor run time, GC, shuffle, spill) into the span that owns them;
- :class:`Sampler` polls cached block sizes and scratch-dir bytes on one
  thread for the peak metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.parse
import urllib.request

MB = 2**20


def _jsc(spark):
    return spark.sparkContext._jsc.sc()


def cached_blocks(spark) -> dict[int, int]:
    """``{rdd id: memory + disk bytes}`` of every cached RDD, as the block
    manager reports it to the status store."""
    return {
        int(i.id()): int(i.memSize()) + int(i.diskSize())
        for i in _jsc(spark).getRDDStorageInfo()
    }


def dir_bytes(paths) -> tuple[int, int]:
    """(bytes, files) under ``paths``; files vanishing mid-walk are skipped."""
    total = files = 0
    stack = [p for p in paths if os.path.isdir(p)]
    while stack:
        try:
            it = os.scandir(stack.pop())
        except OSError:
            continue
        with it:
            for e in it:
                try:
                    if e.is_dir(follow_symlinks=False):
                        stack.append(e.path)
                    else:
                        total += e.stat(follow_symlinks=False).st_size
                        files += 1
                except OSError:
                    continue
    return total, files


class Sampler:
    """One thread that tracks peak cached-block MB and peak scratch MB
    between :meth:`reset` calls."""

    def __init__(self, spark, scratch_dirs, interval: float = 0.25):
        self.spark = spark
        self.dirs = list(scratch_dirs)
        self.interval = interval
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._cache = self._scratch = 0.0
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        cache = sum(cached_blocks(self.spark).values()) / MB
        scratch = dir_bytes(self.dirs)[0] / MB
        with self._lock:
            self._cache = max(self._cache, cache)
            self._scratch = max(self._scratch, scratch)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def reset(self) -> None:
        with self._lock:
            self._cache = self._scratch = 0.0

    def peaks(self) -> tuple[float, float]:
        """(peak cache MB, peak scratch MB) since the last reset, including
        one sample taken now."""
        self._sample()
        with self._lock:
            return self._cache, self._scratch

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("sampler thread did not stop")


class Span:
    def __init__(self, name: str, parent: "Span | None", run_id: str):
        self.name = name
        self.parent = parent
        self.run_id = run_id
        self.session = None  # set inside the block by a call that creates it
        self.start = self.end = 0.0
        self.app = ""
        self.jobs = self.stages = (0, 0)
        self.iterations = 0
        self.ticks: list[float] = []
        self.children: list[Span] = []
        self.counters: dict[str, float] = {}

    @property
    def s(self) -> float:
        return self.end - self.start

    def progress(self, phase, metrics) -> None:
        """``progress=`` hook: timestamps every solver turn."""
        self.ticks.append(time.perf_counter())
        self.iterations = int(metrics.get("iteration", metrics.get("round", len(self.ticks))))

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent.name if self.parent else None,
            "run_id": self.run_id,
            "app": self.app,
            "jobs": list(self.jobs),
            "stages": list(self.stages),
            "iterations": self.iterations,
            "ticks": self.ticks,
            "counters": self.counters,
        }


class NullTracer:
    """Untraced runs: a span costs one generator step and records nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name, spark=None):
        yield None


class Tracer:
    """Holds spans in memory; :meth:`collect` attributes Spark counters
    to the spans of the live session before it stops."""

    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @staticmethod
    def _ids(spark) -> tuple[int, int]:
        ds = _jsc(spark).dagScheduler()
        return int(ds.nextJobId()), int(ds.nextStageId())

    @contextlib.contextmanager
    def span(self, name: str, spark=None):
        """Span around one call. With ``spark=None`` the call creates the
        session and stores it in ``span.session``; its ids start at 0."""
        sp = Span(name, self._stack[-1] if self._stack else None, self.run_id)
        if sp.parent:
            sp.parent.children.append(sp)
        self.spans.append(sp)
        self._stack.append(sp)
        before = self._ids(spark) if spark is not None else (0, 0)
        cached0 = set(cached_blocks(spark)) if spark is not None else set()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            live = spark if spark is not None else sp.session
            if live is not None:
                after = self._ids(live)
                sp.app = live.sparkContext.applicationId
                sp.jobs = (before[0], after[0])
                sp.stages = (before[1], after[1])
                # cached bytes the call left behind once its result was
                # consumed: blocks of RDDs that were not cached at entry
                _jsc(live).listenerBus().waitUntilEmpty()
                leak = sum(b for i, b in cached_blocks(live).items() if i not in cached0)
                sp.counters["cache_leak_mb"] = leak / MB

    def collect(self, spark) -> None:
        """Fold job and stage metrics of the live session into its spans.
        Call once per session, before it stops."""
        sc = spark.sparkContext
        app = sc.applicationId
        mine = [s for s in self.spans if s.app == app]
        if not mine:
            return
        _jsc(spark).listenerBus().waitUntilEmpty()
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        base = f"http://127.0.0.1:{port}/api/v1/applications/{app}"
        with urllib.request.urlopen(f"{base}/stages?details=false", timeout=60) as r:
            stages = json.load(r)
        by_stage: dict[int, list[dict]] = {}
        for st in stages:
            by_stage.setdefault(int(st["stageId"]), []).append(st)
        for sp in mine:
            # a leaf owns its id range; a parent owns what no child took
            owned_jobs = set(range(*sp.jobs))
            owned_stages = set(range(*sp.stages))
            for ch in sp.children:
                owned_jobs -= set(range(*ch.jobs))
                owned_stages -= set(range(*ch.stages))
            c = sp.counters
            c["jobs"] = len(owned_jobs)
            c.update(tasks=0, exec_run_s=0.0, gc_s=0.0, shuffle_read_records=0,
                     shuffle_write_mb=0.0, spill_mb=0.0)
            for sid in owned_stages:
                for st in by_stage.get(sid, []):
                    c["tasks"] += st["numCompleteTasks"]
                    c["exec_run_s"] += st["executorRunTime"] / 1e3
                    c["gc_s"] += st["jvmGcTime"] / 1e3
                    c["shuffle_read_records"] += st["shuffleReadRecords"]
                    c["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
                    c["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / MB

    def dump(self) -> list[dict]:
        return [s.as_dict() for s in self.spans]
