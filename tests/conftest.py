"""Shared Spark fixture + the reference's replayed graph fixtures.

The fixture corpus mirrors the reference's own test inputs exactly
(FIXTURES.md §2); each test module pins the reference's expected numbers.
"""

from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from propagon_spark.plans import blocks  # noqa: E402
from propagon_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("PROPAGON_SHUFFLE_PARTITIONS", "4")
    # AQE off for tests: its per-query re-planning overhead dominates on
    # tiny fixture graphs (production default in session.py keeps it on)
    s = get_spark(
        app_name="propagon-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    yield s
    s.stop()


def job_ids_of(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` launches, by job group."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "job ids")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def place_stores(monkeypatch, placement):
    """Hold a Graph's edge-block stores on the driver (every test graph
    is below ``plans.blocks.DRIVER_STORE_MAX_EDGE_ROWS``) or, with that
    bound forced to 0, in worker shard files."""
    if placement == "workers":
        monkeypatch.setattr(blocks, "DRIVER_STORE_MAX_EDGE_ROWS", 0)


@pytest.fixture(params=["driver", "workers"])
def store_placement(request, monkeypatch):
    place_stores(monkeypatch, request.param)
    return request.param


def block_dirs(spark) -> set:
    """The ``csr_blocks_*`` store directories under the checkpoint dir."""
    from urllib.parse import urlparse

    ck = urlparse(spark.sparkContext.getCheckpointDir()).path
    return {d for d in os.listdir(ck) if d.startswith("csr_blocks_")}


def make_edges(spark, rows, weights=False):
    """rows: list of (src, dst) or (src, dst, w) tuples with string names."""
    if weights:
        return spark.createDataFrame(
            [(a, b, float(w)) for a, b, w in rows],
            "src string, dst string, weight double",
        )
    return spark.createDataFrame(
        [(a, b) for a, b in rows], "src string, dst string"
    )


@pytest.fixture(scope="session")
def tournament(tmp_path_factory):
    """A generated stand-in for a season corpus: 30 teams ``"0".."29"``,
    every pair meets 4 times, one ``winner loser 1`` row per game
    (seeded; higher-numbered teams win more often). Returns the file path
    and each team's win count, which is its out-strength."""
    import random

    rng = random.Random(2018)
    games = []
    for a in range(30):
        for b in range(a + 1, 30):
            for _ in range(4):
                games.append((b, a) if rng.random() < 0.5 + (b - a) / 80 else (a, b))
    path = tmp_path_factory.mktemp("corpus") / "tournament.edges"
    path.write_text("".join(f"{w} {lo} 1\n" for w, lo in games))
    wins = {str(t): 0.0 for t in range(30)}
    for w, _ in games:
        wins[str(w)] += 1.0
    return str(path), wins


@pytest.fixture(scope="session")
def small_graph_rows():
    # clients/python/tests/conftest.py:24-29 — (a,b),(b,c),(c,a),(a,c),(b,a)
    return [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("b", "a")]


def scores_dict(df):
    """Collect a (name, score) frame to {name: score}."""
    return {r["name"]: r["score"] for r in df.collect()}


def peel_coreness(rows):
    """Batagelj–Zaversnik coreness of the undirected, dedup'd,
    self-loop-free reading of ``rows`` ((src, dst) name pairs), in plain
    Python (``kcore.rs:40-100``): starting at k = 0, repeatedly remove
    every vertex of degree ≤ k before moving to k + 1; a vertex's
    coreness is the k it fell at. Self-loop-only vertices get 0."""
    adj: dict[str, set] = {v: set() for e in rows for v in e}
    for a, b in rows:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    want = {}
    alive = dict(adj)
    k = 0
    while alive:
        peeled = True
        while peeled:
            peeled = False
            for v in [v for v, nb in alive.items() if len(nb) <= k]:
                want[v] = k
                for u in alive[v]:
                    alive[u].discard(v)
                del alive[v]
                peeled = True
        k += 1
    return want
