"""Pure-Python replay of the reference's seeded RNG streams.

The reference derives every sampled/random quantity from
``rand_xoshiro::Xoshiro256PlusPlus::seed_from_u64(seed)`` (Cargo.lock
pins rand_xoshiro 0.7.0 / rand 0.9.4): BiRank random init
(``algos/birank.rs:178-180``, seed 2019), sampled-harmonic Fisher-Yates
source draws (``algos/harmonic.rs:181-189``, canonical seed 2014),
bootstrap replicate streams (``algos/bootstrap.rs:110``). This module
replays those streams bit-for-bit so cross-engine runs can share them —
the same trick as the xxhash64 DuckDB replay, at the reference-parity
layer instead of the SQL-oracle layer.

Provenance of each layer (all public):

- **Xoshiro256++ core**: Blackman & Vigna, ``xoshiro256plusplus.c``
  (public-domain reference implementation). Pinned by the published
  test vector for state (1, 2, 3, 4) — first outputs 41943041,
  58720359, … (the same vector rand_xoshiro's own tests use).
- **``seed_from_u64``**: rand_xoshiro seeds via SplitMix64 (the xoshiro
  paper's recommended seeder; constants 0x9E3779B97F4A7C15 /
  0xBF58476D1CE4E5B9 / 0x94D049BB133111EB), filling the 32-byte seed in
  8-byte little-endian chunks. Pinned by the published SplitMix64
  stream for seed 0 (0xE220A8397B1DCDAF, …).
- **``random::<f64>()``** (rand 0.9 ``StandardUniform``):
  ``(next_u64() >> 11) · 2⁻⁵³`` — 53 high bits scaled into [0, 1).
- **``random_range(low..high)``** (rand 0.9 ``UniformInt``
  ``sample_single``): Canon's widening-multiply method with one
  bias-correction round (the crate's default build; the ``unbiased``
  feature flag would select Lemire rejection instead — exposed here as
  ``method="lemire"``). This is the one layer with no published test
  vector; it is pinned to the rand 0.9 source algorithm but cannot be
  validated against the reference binary in this sandbox (no network to
  fetch the crate graph for a build). End-to-end validation: the
  BiRank-init replay reproduces the reference's OWN golden acceptance
  (tests/golden.rs:189-212, section-wise Spearman >= 0.95 against
  ``tests/golden/birank.out``) — see tests/test_xoshiro.py.

Driver-side use only: these streams are inherently sequential (the
reference is single-node), so they parameterize fits — an init vector, a
source list — never per-row executor work. Distributed per-row draws use
:mod:`propagon_spark.rng` (hash-keyed, order-free) instead.
"""

from __future__ import annotations

from typing import Iterable

_M64 = (1 << 64) - 1


def _rotl(x: int, k: int) -> int:
    return ((x << k) | (x >> (64 - k))) & _M64


def splitmix64_stream(state: int):
    """Infinite SplitMix64 generator (Vigna's public-domain seeder)."""
    while True:
        state = (state + 0x9E3779B97F4A7C15) & _M64
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
        yield z ^ (z >> 31)


class Xoshiro256PlusPlus:
    """Bit-exact replay of ``rand_xoshiro::Xoshiro256PlusPlus``."""

    def __init__(self, s0: int, s1: int, s2: int, s3: int):
        if (s0 | s1 | s2 | s3) == 0:
            raise ValueError("xoshiro256++ state must not be all-zero")
        self.s = [s0 & _M64, s1 & _M64, s2 & _M64, s3 & _M64]

    @classmethod
    def seed_from_u64(cls, seed: int) -> "Xoshiro256PlusPlus":
        """rand_xoshiro's ``seed_from_u64``: four SplitMix64 outputs."""
        sm = splitmix64_stream(seed & _M64)
        return cls(next(sm), next(sm), next(sm), next(sm))

    def next_u64(self) -> int:
        s = self.s
        result = (_rotl((s[0] + s[3]) & _M64, 23) + s[0]) & _M64
        t = (s[1] << 17) & _M64
        s[2] ^= s[0]
        s[3] ^= s[1]
        s[1] ^= s[2]
        s[0] ^= s[3]
        s[2] ^= t
        s[3] = _rotl(s[3], 45)
        return result

    def random_f64(self) -> float:
        """rand 0.9 ``random::<f64>()``: 53 high bits into [0, 1)."""
        return (self.next_u64() >> 11) * (2.0**-53)

    def random_range(self, low: int, high: int, method: str = "canon") -> int:
        """rand 0.9 ``random_range(low..high)`` for a 64-bit uint type
        (``UniformUsize`` delegates to u64 on 64-bit targets). See the
        module docstring for the provenance caveat on this layer."""
        if not low < high:
            raise ValueError(f"empty range {low}..{high}")
        rng_n = high - low  # exclusive range
        if method == "canon":
            # Canon's method: hi 64 bits of v*range, plus one
            # bias-correction round (max residual bias 2^-64)
            v = self.next_u64()
            result, lo_order = divmod(v * rng_n, 1 << 64)
            if lo_order > ((-rng_n) & _M64):
                new_hi = (self.next_u64() * rng_n) >> 64
                if lo_order + new_hi > _M64:
                    result += 1
            return low + result
        if method == "lemire":
            # zone-rejection (rand's `unbiased` feature / 0.8 behavior)
            zone = ((rng_n << (64 - rng_n.bit_length())) - 1) & _M64
            while True:
                v = self.next_u64()
                hi, lo = divmod(v * rng_n, 1 << 64)
                if lo <= zone:
                    return low + hi
        raise ValueError(f"method must be canon|lemire, got {method!r}")


def birank_reference_init(
    src_seq: Iterable[str], dst_seq: Iterable[str], seed: int = 2019
) -> tuple[dict[str, float], dict[str, float]]:
    """Replay ``algos/birank.rs:178-180``: interleaved side-local
    interning over the edges IN FILE ORDER, then one ``random::<f64>()``
    per src entity followed by one per dst entity, in id order. Returns
    ``(u0 by src name, p0 by dst name)``.

    ``src_seq``/``dst_seq`` must iterate the raw edge rows in input
    order (the reference is single-node and order-sensitive here; this
    parity mode therefore applies to file-fed inputs, where row order is
    well-defined — e.g. ``read_edge_text`` sources)."""
    src_seq, dst_seq = list(src_seq), list(dst_seq)
    sr: dict[str, int] = {}
    dr: dict[str, int] = {}
    for s, d in zip(src_seq, dst_seq):
        sr.setdefault(s, len(sr))
        dr.setdefault(d, len(dr))
    rng = Xoshiro256PlusPlus.seed_from_u64(seed)
    u_draws = [rng.random_f64() for _ in range(len(sr))]
    p_draws = [rng.random_f64() for _ in range(len(dr))]
    return (
        {nm: u_draws[i] for nm, i in sr.items()},
        {nm: p_draws[i] for nm, i in dr.items()},
    )


def harmonic_sample_sources(
    n: int, count: int, seed: int = 2014, method: str = "canon"
) -> list[int]:
    """Replay ``algos/harmonic.rs:176-189``: partial Fisher-Yates over
    ``0..n`` drawing ``count`` distinct interner ids via
    ``random_range(k..n)``, then sorted ascending. Feed the result to
    ``harmonic(sources=[...])`` (after mapping interner ids to names)
    for reference-stream source parity."""
    count = min(count, n)
    ids = list(range(n))
    rng = Xoshiro256PlusPlus.seed_from_u64(seed)
    for k in range(count):
        j = rng.random_range(k, n, method=method)
        ids[k], ids[j] = ids[j], ids[k]
    return sorted(ids[:count])
