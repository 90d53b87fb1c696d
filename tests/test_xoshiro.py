"""Reference RNG-stream parity (propagon_spark/xoshiro.py).

Layer pins: the Xoshiro256++ core and SplitMix64 seeder against their
published test vectors; the composed ``seed_from_u64`` + ``random_f64``
stream for self-consistency; and the BiRank init replay end-to-end
against the reference's own golden acceptance — the SAME gate its test
suite applies to the binary (``tests/golden.rs:189-212``: section-wise
Spearman >= 0.95 vs ``tests/golden/birank.out``, tier S because the
golden was captured from v1's retired RNG).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from propagon_spark.xoshiro import (
    Xoshiro256PlusPlus,
    birank_reference_init,
    harmonic_sample_sources,
    splitmix64_stream,
)

GOLDEN = "/root/reference/crates/propagon-cli/tests/golden/birank.out"
EDGES = "/root/reference/examples/tournament/baseball.2018.edges"


def test_xoshiro256pp_published_vector():
    # Blackman & Vigna reference implementation, state (1, 2, 3, 4) —
    # the vector rand_xoshiro's own tests pin
    r = Xoshiro256PlusPlus(1, 2, 3, 4)
    assert [r.next_u64() for _ in range(6)] == [
        41943041,
        58720359,
        3588806011781223,
        3591011842654386,
        9228616714210784205,
        9973669472204895162,
    ]


def test_splitmix64_published_vector():
    sm = splitmix64_stream(0)
    assert [next(sm) for _ in range(3)] == [
        0xE220A8397B1DCDAF,
        0x6E789E6AA1B965F4,
        0x06C45D188009454F,
    ]


def test_seeded_stream_properties():
    r = Xoshiro256PlusPlus.seed_from_u64(2019)
    xs = [r.random_f64() for _ in range(1000)]
    assert all(0.0 <= x < 1.0 for x in xs)
    # deterministic: same seed, same stream
    r2 = Xoshiro256PlusPlus.seed_from_u64(2019)
    assert [r2.random_f64() for _ in range(1000)] == xs
    with pytest.raises(ValueError):
        Xoshiro256PlusPlus(0, 0, 0, 0)


def test_random_range_bounds_and_methods():
    for method in ("canon", "lemire"):
        r = Xoshiro256PlusPlus.seed_from_u64(2014)
        draws = [r.random_range(3, 30, method=method) for _ in range(500)]
        assert all(3 <= d < 30 for d in draws)
        assert len(set(draws)) == 27  # covers the range


def test_harmonic_sample_sources_shape():
    ids = harmonic_sample_sources(n=30, count=8, seed=2014)
    assert len(ids) == len(set(ids)) == 8
    assert ids == sorted(ids) and all(0 <= i < 30 for i in ids)
    # count >= n degenerates to all sources, any seed
    assert harmonic_sample_sources(5, 99, seed=1) == [0, 1, 2, 3, 4]


def _spearman(a: np.ndarray, b: np.ndarray) -> float:
    ra = np.argsort(np.argsort(a)).astype(float)
    rb = np.argsort(np.argsort(b)).astype(float)
    ra -= ra.mean()
    rb -= rb.mean()
    return float((ra * rb).sum() / np.sqrt((ra**2).sum() * (rb**2).sum()))


@pytest.mark.skipif(
    not (os.path.exists(EDGES) and os.path.exists(GOLDEN)),
    reason="reference corpus not available",
)
def test_birank_reference_init_reproduces_golden(spark):
    # End-to-end: replayed Xoshiro init (seed 2019, interner first-seen
    # order) + our BiRank sweep vs the reference's captured golden, held
    # to the reference's own tier-S gate (golden.rs:189-212)
    rows = []
    with open(EDGES) as f:
        for ln in f:
            parts = ln.split()
            if len(parts) >= 2:
                rows.append((parts[0], parts[1], float(parts[2]) if len(parts) > 2 else 1.0))
    u0, _ = birank_reference_init((r[0] for r in rows), (r[1] for r in rows))

    from propagon_spark.graph.birank import birank

    edges = spark.createDataFrame(rows, "src string, dst string, weight double")
    src_init = spark.createDataFrame(list(u0.items()), "name string, value double")
    res = birank(edges, iterations=10, src_init=src_init)

    want_lines = [
        ln.split(": ") for ln in open(GOLDEN).read().splitlines() if ": " in ln
    ]
    mid = len(want_lines) // 2
    want_u = {k: float(v) for k, v in want_lines[:mid]}
    want_p = {k: float(v) for k, v in want_lines[mid:]}

    got_u = {r["name"]: r["score"] for r in res.src_scores.collect()}
    got_p = {r["name"]: r["score"] for r in res.dst_scores.collect()}
    ku = sorted(set(want_u) & set(got_u))
    kp = sorted(set(want_p) & set(got_p))
    assert len(ku) >= 25 and len(kp) >= 25  # 30 teams each side
    rho_u = _spearman(
        np.array([got_u[k] for k in ku]), np.array([want_u[k] for k in ku])
    )
    rho_p = _spearman(
        np.array([got_p[k] for k in kp]), np.array([want_p[k] for k in kp])
    )
    assert rho_u >= 0.95, f"u-side spearman {rho_u}"
    assert rho_p >= 0.95, f"p-side spearman {rho_p}"
