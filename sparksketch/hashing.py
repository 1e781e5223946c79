"""Hashing kernels with exact Spark parity.

The engine hashes keys **JVM-side** with the built-in, codegen'd
``F.xxhash64(col, F.lit(seed).cast("long"))`` — the Python/numpy kernels only
do integer index math on the resulting int64 columns, so the hot path never
hashes in Python.  For driver-side single-key operations (tests, point
probes) this module carries a pure-Python XXH64 that reproduces Spark's
``XxHash64`` expression bit-for-bit, including its multi-argument fold:

    xxhash64(s, lit(seed)L)  ==  XXH64(le8(seed), seed=XXH64(utf8(s), 42))

Parity is asserted in ``tests/test_hashing.py`` against live Spark output.

Seed table parity: the reference pins six 64-bit seeds
(``HASH_SEED_SELECTION``, /root/reference/src/filter.rs:485-487) with fixed
roles — [0],[1] route keys to shards per tier, [2],[3] are the cartographer
tier's (h1,h2) Bloom pair, [4],[5] the inheritor tier's.  We keep the same
table and role assignment; two extra seeds are appended for the reference's
planned-but-commented-out third tier (``Harbinger``, filter.rs:455,
config.rs:9).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference parity: /root/reference/src/filter.rs:485-487.
HASH_SEED_SELECTION: tuple[int, ...] = (
    0x8BADF00D,  # [0] shard routing, tier 1 (cartographer)
    0xDEADBABE,  # [1] shard routing, tier 2 (inheritor)
    0xABAD1DEA,  # [2] cartographer bloom h1
    0xDEADBEEF,  # [3] cartographer bloom h2
    0xCAFEBABE,  # [4] inheritor bloom h1
    0xFEEDFACE,  # [5] inheritor bloom h2
    0x0DDBA11,   # [6] harbinger bloom h1 (ours; tier 3 is planned in the reference)
    0x5CA1AB1E,  # [7] harbinger bloom h2
)

TIER_NAMES: tuple[str, ...] = ("cartographer", "inheritor", "harbinger")

_MASK = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def xxh64(data: bytes, seed: int) -> int:
    """Pure-Python XXH64 (unsigned result). Matches Spark's XxHash64 on a
    string/binary column when seed is Spark's fold accumulator (42 for the
    first argument)."""
    seed &= _MASK
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed
        v4 = (seed - _P1) & _MASK
        while i + 32 <= n:
            v1 = (_rotl((v1 + int.from_bytes(data[i : i + 8], "little") * _P2) & _MASK, 31) * _P1) & _MASK
            v2 = (_rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _P2) & _MASK, 31) * _P1) & _MASK
            v3 = (_rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _P2) & _MASK, 31) * _P1) & _MASK
            v4 = (_rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _P2) & _MASK, 31) * _P1) & _MASK
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl((v * _P2) & _MASK, 31) * _P1) & _MASK)) * _P1 + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        k = (_rotl((int.from_bytes(data[i : i + 8], "little") * _P2) & _MASK, 31) * _P1) & _MASK
        h = ((_rotl(h ^ k, 27) * _P1) + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h = ((_rotl(h ^ ((int.from_bytes(data[i : i + 4], "little") * _P1) & _MASK), 23) * _P2) + _P3) & _MASK
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _MASK), 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def spark_xxhash64(value: bytes | str, seed: int | None = None) -> int:
    """Driver-side replica of ``F.xxhash64(col)`` / ``F.xxhash64(col,
    F.lit(seed).cast('long'))`` for a single string/binary value.
    Returns the *unsigned* 64-bit hash (Spark reports it signed)."""
    if isinstance(value, str):
        value = value.encode("utf-8")
    h = xxh64(value, 42)
    if seed is not None:
        h = xxh64((seed & _MASK).to_bytes(8, "little"), h)
    return h


def hash_col(col: str | Column, seed: int) -> Column:
    """JVM-side seeded 64-bit hash of a column — the engine's canonical hash.

    ``F.lit(seed).cast('long')`` pins the literal to an 8-byte fold so the
    driver-side replica (:func:`spark_xxhash64`) stays bit-identical.
    """
    return F.xxhash64(col, F.lit(seed).cast("long"))


def rank_key_col(key_col: str, salt: str) -> Column:
    """The engine-portable deterministic rank key ``md5(salt|key)`` used by
    the sampling/packing operators (uniform_sample_k, pack_sequences):
    UTF-8-encoded concat so Spark and DuckDB hash identical bytes, NULL
    keys coalesced to ``''``.  Keep :func:`rank_key_sql` in sync."""
    kc = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    return F.md5(F.encode(F.concat(F.lit(f"{salt}|"), kc), "UTF-8"))


def rank_key_sql(key_col: str, salt: str) -> str:
    """DuckDB/ANSI mirror of :func:`rank_key_col` (string ``||`` concat
    hashes the same UTF-8 bytes as Spark's encode)."""
    return f"md5('{salt}|' || coalesce(CAST({key_col} AS VARCHAR), ''))"


def derive_tier_hashes(h1: np.ndarray, h2: np.ndarray, tiers: int) -> list[tuple[np.ndarray, np.ndarray]]:
    """Derive per-tier (h1_t, h2_t) base-hash pairs from the two shipped
    base hashes: ``splitmix64(h ^ tier_seed)``.

    Rationale: shipping one (h1, h2) pair (16 B/row) instead of per-tier
    xxhash64 columns halves the shuffle and the JVM→Python transfer — the
    measured bottleneck of the routed build.  splitmix64 is a bijective
    finalizer over an already-uniform xxhash64 value, so each derived pair
    is uniform and the pairs differ across tiers; the zero-FN guarantee is
    hash-agnostic, and a *total* inter-tier collision still requires the
    full 128-bit (h1, h2) collision, exactly as with independent seeds.
    The tier seeds reuse the reference's seed table entries [2..7]
    (/root/reference/src/filter.rs:485-487) as XOR constants."""
    return [tier_hashes(h1, h2, t) for t in range(tiers)]


def tier_hashes(h1: np.ndarray, h2: np.ndarray, t: int) -> tuple[np.ndarray, np.ndarray]:
    """Tier ``t``'s (h1_t, h2_t) pair alone (see :func:`derive_tier_hashes`)."""
    x1 = np.uint64(HASH_SEED_SELECTION[2 + 2 * t])
    x2 = np.uint64(HASH_SEED_SELECTION[3 + 2 * t])
    return splitmix64(to_u64(h1) ^ x1), splitmix64(to_u64(h2) ^ x2)


def derive_shard(h1_i64: np.ndarray, n_shards: int) -> np.ndarray:
    """Shard id from the signed base hash — identical to the JVM
    ``pmod(xxhash64(key, seed0), n_shards)`` (numpy int64 ``%`` positive
    divisor is non-negative, like Spark's pmod)."""
    return h1_i64.astype(np.int64) % np.int64(n_shards)


def to_u64(arr) -> np.ndarray:
    """Reinterpret an int64 numpy/arrow array as uint64 (no copy)."""
    a = np.asarray(arr)
    if a.dtype != np.int64 and a.dtype != np.uint64:
        a = a.astype(np.int64)
    return a.view(np.uint64) if a.dtype == np.int64 else a


def km_indices(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """Kirsch–Mitzenmacher double hashing: ``idx_i = (h1 + i*h2) & (m-1)``
    for i in 0..k, vectorized to a (rows, k) uint64 matrix.

    Mirrors the reference's scheme (/root/reference/src/filter.rs:303-311)
    including the power-of-two mask in place of mod
    (/root/reference/src/filter.rs:305-308)."""
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) & np.uint64(m - 1)


def set_bits(bits: np.ndarray, idx: np.ndarray) -> None:
    """OR the bit at each (flattened) index into the packed uint64 word array.

    Counterpart of the reference's ``bloom_insert`` atomic ``fetch_or``
    (/root/reference/src/filter.rs:316-333) — no atomics needed because a
    Spark partition is single-threaded.  One unsorted OR-scatter comes
    first; where several indices share a word only one write lands, so the
    bits still unset after it get a sort + ``reduceat`` segment-OR
    (``np.bitwise_or.at``, the buffered ufunc ``.at``, is ~20× slower).
    Fastest on a few thousand rows per call, as the build kernel calls it."""
    flat = idx.ravel()
    words = flat >> np.uint64(6)
    masks = np.uint64(1) << (flat & np.uint64(63))
    bits[words] |= masks
    lost = (bits[words] & masks) == 0
    if not lost.any():
        return
    flat = np.sort(flat[lost])
    words = flat >> np.uint64(6)
    masks = np.uint64(1) << (flat & np.uint64(63))
    starts = np.concatenate(([0], np.flatnonzero(np.diff(words)) + 1))
    bits[words[starts]] |= np.bitwise_or.reduceat(masks, starts)


def test_bits(bits: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """All-k-bits-set membership test over a (rows, k) index matrix →
    bool vector.  Counterpart of ``bloom_check``
    (/root/reference/src/filter.rs:335-345)."""
    got = (bits[idx >> np.uint64(6)] >> (idx & np.uint64(63))) & np.uint64(1)
    return got.all(axis=1)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer — cheap deterministic integer mixing
    used by the synthetic data generator and salting (not on the key path)."""
    z = to_u64(x) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))
