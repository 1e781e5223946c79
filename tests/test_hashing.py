"""Spark-parity tests for the pure-Python XXH64 replica and kernels."""

import numpy as np
from pyspark.sql import functions as F

from sparksketch.hashing import (
    HASH_SEED_SELECTION,
    km_indices,
    set_bits,
    spark_xxhash64,
)
from sparksketch.hashing import test_bits as check_bits


def _signed(u):
    return u - (1 << 64) if u >= (1 << 63) else u


def test_xxh64_matches_spark_unseeded(spark):
    vals = ["abc", "hello", "", "0", "a" * 100, "κλεψύδρα", "123456789"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select("s", F.xxhash64("s").alias("h")).collect()
    for r in rows:
        assert _signed(spark_xxhash64(r.s)) == r.h


def test_xxh64_matches_spark_seeded_long(spark):
    vals = ["abc", "hello", "", "x" * 37]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    for seed in HASH_SEED_SELECTION:
        rows = df.select("s", F.xxhash64("s", F.lit(seed).cast("long")).alias("h")).collect()
        for r in rows:
            assert _signed(spark_xxhash64(r.s, seed)) == r.h


def test_pmod_routing_parity(spark):
    """Driver-side shard routing must equal the JVM expression exactly."""
    n = 64
    vals = [f"https://h{i}.example.com/p{i}" for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select(
        "s",
        F.pmod(F.xxhash64("s", F.lit(HASH_SEED_SELECTION[0]).cast("long")), F.lit(n).cast("long")).alias("shard"),
    ).collect()
    for r in rows:
        assert _signed(spark_xxhash64(r.s, HASH_SEED_SELECTION[0])) % n == r.shard


def test_km_indices_and_bits_roundtrip():
    rng = np.random.default_rng(42)
    h1 = rng.integers(0, 2**63, 1000).astype(np.uint64)
    h2 = rng.integers(0, 2**63, 1000).astype(np.uint64)
    m, k = 1 << 14, 10
    idx = km_indices(h1, h2, k, m)
    assert idx.shape == (1000, k)
    assert idx.max() < m
    # slow-python reference for the KM scheme
    for r in (0, 13, 999):
        for i in range(k):
            assert idx[r, i] == (int(h1[r]) + i * int(h2[r])) % m
    bits = np.zeros(m // 64, dtype=np.uint64)
    set_bits(bits, idx)
    assert check_bits(bits, idx).all()
    # disjoint probes mostly absent
    p1 = rng.integers(0, 2**63, 500).astype(np.uint64)
    p2 = rng.integers(0, 2**63, 500).astype(np.uint64)
    assert check_bits(bits, km_indices(p1, p2, k, m)).mean() < 0.05
