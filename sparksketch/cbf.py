"""Counting Bloom filter — a deletable membership sketch.

Extends the library's Bloom centerpiece (which mirrors the reference's
insert-only filter, /root/reference/src/filter.rs:316-333) with DELETION:
each of the k Kirsch–Mitzenmacher positions holds a counter instead of a
bit, inserts increment, deletes decrement, membership is "all k counters
positive".  Merge is element-wise addition, so partial states built per
partition combine associatively/commutatively like every sketch here, and a
"deletions" filter built independently can be subtracted from a "build"
filter (multiset difference).

Guarantees (Fan, Cao, Almeida & Broder 2000, the summary-cache counting
bloom): after deleting a sub-multiset D of what was inserted S,
- zero false negatives for every key with a remaining occurrence in S−D;
- false-positive probability for fully-removed / never-inserted keys is the
  standard Bloom bound (1 − e^(−k·n/m))^k with n = distinct remaining keys.
Deleting keys that were never inserted voids both (counters can underflow
other keys' positions) — callers must delete subsets of insertions, which
the DataFrame API makes natural (filter the same source).

Same kernel conventions as bloom.py/cms.py: two JVM ``xxhash64`` base
hashes per row, vectorized numpy ``bincount`` adds over Arrow batches,
never per-row Python.
"""

from __future__ import annotations

import math
import struct

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksketch import sketch as _sk
from sparksketch.hashing import hash_col, km_indices, to_u64

CBF_SEEDS = (0xCBF00001, 0xCBF00002)

_MAGIC = b"CBF2"


class CountingBloom:
    """m int64 counters, k KM positions per key.  m must be a power of two
    (the index mask mirrors the reference's power-of-two geometry,
    /root/reference/src/filter.rs:305-308)."""

    def __init__(self, k: int = 8, m: int = 1 << 18):
        if m & (m - 1):
            raise ValueError("m must be a power of two")
        self.k = k
        self.m = m
        self.counts = np.zeros(m, dtype=np.int64)
        self.inserts = 0
        self.deletes = 0
        # pending (sign, idx-array) updates: an m-wide bincount per Arrow
        # batch is O(m) allocate+add EVERY ~10k rows (measured 9.7 s for a
        # 500k-row build at m=2^21 — pure memory bandwidth); buffering the
        # k·rows indices and flushing once per ~m pending turns that into
        # O(m) once per partition
        self._pending: list[tuple[int, np.ndarray]] = []
        self._pending_n = 0

    def _flush(self) -> None:
        if not self._pending:
            return
        pos = [i for sgn, i in self._pending if sgn > 0]
        neg = [i for sgn, i in self._pending if sgn < 0]
        if pos:
            self.counts += np.bincount(np.concatenate(pos), minlength=self.m)
        if neg:
            self.counts -= np.bincount(np.concatenate(neg), minlength=self.m)
        self._pending, self._pending_n = [], 0

    # -- kernel updates (sketch.build_sketch protocol) --
    def update_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        # to_u64 for symmetry with contains_hashes: driver-side callers
        # hand Spark's SIGNED int64 hash arrays, and mixed int64/uint64
        # promotion inside km_indices raises; the view is zero-copy.
        # bincount rejects uint64 ("safe" cast rule); indices are < m
        h1, h2 = to_u64(h1), to_u64(h2)
        idx = km_indices(h1, h2, self.k, self.m).ravel().astype(np.int64)
        self._pending.append((1, idx))
        self._pending_n += idx.size
        self.inserts += int(h1.shape[0])
        if self._pending_n >= self.m:
            self._flush()

    def delete_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        h1, h2 = to_u64(h1), to_u64(h2)
        idx = km_indices(h1, h2, self.k, self.m).ravel().astype(np.int64)
        self._pending.append((-1, idx))
        self._pending_n += idx.size
        self.deletes += int(h1.shape[0])
        if self._pending_n >= self.m:
            self._flush()

    def contains_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        # accepts int64 (the shipped Spark hash columns) or uint64 —
        # to_u64 is a zero-copy view either way
        self._flush()
        idx = km_indices(to_u64(h1), to_u64(h2), self.k, self.m)
        return (self.counts[idx] > 0).all(axis=1)

    # -- algebra --
    def merge(self, other: "CountingBloom") -> "CountingBloom":
        if (self.k, self.m) != (other.k, other.m):
            raise ValueError("cannot merge CountingBloom with different geometry")
        self._flush()
        other._flush()
        self.counts += other.counts
        self.inserts += other.inserts
        self.deletes += other.deletes
        return self

    def subtract(self, other: "CountingBloom") -> "CountingBloom":
        """Multiset difference: ``other`` must be a filter of a sub-multiset
        of this filter's insertions (same k/m/seeds).  The guard runs BEFORE
        any mutation — a caller that catches the error keeps an intact
        filter, not one with negative counters."""
        if (self.k, self.m) != (other.k, other.m):
            raise ValueError("cannot subtract CountingBloom with different geometry")
        self._flush()
        other._flush()
        if (other.counts > self.counts).any():
            raise ValueError(
                "counting-bloom subtract would go negative: the deletions "
                "were not a sub-multiset of the insertions (deleting keys "
                "never inserted voids the zero-FN guarantee)")
        self.counts -= other.counts
        # the NET mass removed is other's inserts minus its own deletions —
        # crediting other.inserts alone would overstate removals when the
        # subtrahend itself carried deletes, and fpr_bound()'s default
        # n = inserts − deletes would then under-count remaining keys
        # (an optimistic FP bound, the wrong direction to err)
        self.deletes += other.inserts - other.deletes
        return self

    # -- driver-side probe --
    def contains(self, key: str | bytes) -> bool:
        from sparksketch.hashing import spark_xxhash64
        data = key.encode() if isinstance(key, str) else key
        hs = [np.array([spark_xxhash64(data, s)], dtype=np.uint64) for s in CBF_SEEDS]
        return bool(self.contains_hashes(hs[0], hs[1])[0])

    def fpr_bound(self, n_distinct: int | None = None) -> float:
        """(1 − e^(−k·n/m))^k for n distinct remaining keys; defaults to the
        (pessimistic) net occurrence count inserts − deletes."""
        n = n_distinct if n_distinct is not None else max(self.inserts - self.deletes, 0)
        return (1.0 - math.exp(-self.k * n / self.m)) ** self.k

    # -- serialization --
    def to_bytes(self) -> bytes:
        """Width-adaptive counter encoding: a partial's counters rarely
        exceed a byte, so blobs ship as the narrowest unsigned dtype that
        holds max(counts) (8 B header flag).  At m=2^21 this cut the
        per-partial blob 16 MB → 2 MB and the 32-partial driver fold from
        the dominant cost of a 500k-row build to noise — merge traffic is
        what matters at 1000 executors too."""
        self._flush()
        mx = int(self.counts.max()) if self.m else 0
        if self.counts.size and int(self.counts.min()) < 0:
            # negative counters (raw delete_hashes misuse) must round-trip
            # faithfully, not wrap into large unsigned "members"
            width, dt = 8, np.int64
        else:
            for width, dt in ((1, np.uint8), (2, np.uint16), (4, np.uint32)):
                if mx < (1 << (8 * width)):
                    break
            else:
                width, dt = 8, np.int64
        return (_MAGIC + struct.pack("<HIqqB", self.k, self.m, self.inserts,
                                     self.deletes, width)
                + self.counts.astype(dt, copy=False).tobytes())

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountingBloom":
        # explicit check (not assert): corrupt/foreign blobs must fail with
        # a clear error even under `python -O`, matching BloomFilterState
        if data[:4] != _MAGIC:
            raise ValueError("not a sparksketch counting-bloom blob")
        k, m, ins, dels, width = struct.unpack_from("<HIqqB", data, 4)
        dt = {1: np.uint8, 2: np.uint16, 4: np.uint32, 8: np.int64}[width]
        c = cls(k, m)
        off = 4 + struct.calcsize("<HIqqB")
        c.counts = np.frombuffer(data, dtype=dt, offset=off,
                                 count=m).astype(np.int64)
        c.inserts = ins
        c.deletes = dels
        return c


def cbf_build(df: DataFrame, col: str, k: int = 8, m: int = 1 << 18,
              delete_when: Column | None = None) -> CountingBloom:
    """Distributed build: per-partition counting filters, tree-merged —
    zero shuffles, the same plan shape as :func:`~sparksketch.bloom.build_bloom`.

    ``delete_when`` folds the common "build minus tombstones" two-pass —
    ``cbf_delete(cbf_build(df, col), df.filter(p), col)`` — into ONE scan:
    a tombstone row retracts ITSELF (its insert and delete cancel, so the
    counters are never touched but the insert/delete bookkeeping advances),
    producing a byte-identical filter (counters, inserts, deletes, blob
    width) at half the scans.  The tombstones are a sub-multiset of the
    insertions BY CONSTRUCTION here, so the zero-FN guarantee holds
    unconditionally.  Cancelling a DIFFERENT row (a true operation log)
    still uses the explicit :func:`cbf_delete` path, whose subtract guard
    checks the sub-multiset property."""
    if delete_when is None:
        return _sk.build_sketch(df, col, lambda pid: CountingBloom(k, m),
                                seeds=CBF_SEEDS)
    import pyarrow as pa

    from sparksketch.sketch import _STATE_SCHEMA, fold_states

    key = F.col(col).cast("string")
    proj = df.filter(F.col(col).isNotNull()).select(
        hash_col(key, CBF_SEEDS[0]).alias("_h0"),
        hash_col(key, CBF_SEEDS[1]).alias("_h1"),
        F.coalesce(delete_when.cast("boolean"), F.lit(False)).alias("_del"))

    def fn(batches):
        sk = CountingBloom(k, m)
        for batch in batches:
            h0 = to_u64(batch.column("_h0").to_numpy(zero_copy_only=False))
            h1 = to_u64(batch.column("_h1").to_numpy(zero_copy_only=False))
            d = batch.column("_del").to_numpy(zero_copy_only=False).astype(bool)
            if not d.all():
                sk.update_hashes(h0[~d], h1[~d])
            nd = int(d.sum())  # insert+delete cancel: bookkeeping only
            sk.inserts += nd
            sk.deletes += nd
        yield pa.RecordBatch.from_pydict(
            {"state": pa.array([sk.to_bytes()], pa.binary())})

    states = proj.mapInArrow(fn, _STATE_SCHEMA)
    return fold_states(states, CountingBloom, lambda pid: CountingBloom(k, m))


def cbf_delete(state: CountingBloom, df: DataFrame, col: str) -> CountingBloom:
    """Delete every row of ``df[col]`` from ``state`` (must be a sub-multiset
    of what was inserted — filter the same source).  Builds the deletions as
    an independent distributed filter and subtracts: one extra scan, no
    shuffle, and the deletion set can itself be persisted/merged first."""
    dels = _sk.build_sketch(df, col, lambda pid: CountingBloom(state.k, state.m),
                            seeds=CBF_SEEDS)
    return state.subtract(dels)


def with_cbf_membership(df: DataFrame, col: str, state: CountingBloom,
                        out: str = "is_member") -> DataFrame:
    """Distributed probe: JVM base hashes + the shared broadcast Arrow
    probe UDF (:func:`~sparksketch.bloom.broadcast_probe_udf`), exactly as
    :func:`~sparksketch.bloom.with_membership` does."""
    from sparksketch.bloom import broadcast_probe_udf
    probe = broadcast_probe_udf(df.sparkSession, state.to_bytes(), _decode_cbf)
    key = F.col(col).cast("string")
    return df.withColumn(out, probe(*[hash_col(key, s) for s in CBF_SEEDS]))


def _decode_cbf(blob: bytes) -> CountingBloom:
    """The probe UDF's decoder: a module-level function, so cloudpickle
    ships it by reference (see :func:`sparksketch.bloom._decode_state`)."""
    return CountingBloom.from_bytes(blob)


def cbf_by_group(df: DataFrame, group_col: str, col: str,
                 k: int = 8, m: int = 1 << 18) -> DataFrame:
    """Per-group counting filters → DataFrame (group, state binary), with
    the library's standard map-side combine (see
    :func:`~sparksketch.sketch.sketch_by_group`)."""
    return _sk.sketch_by_group(df, group_col, col,
                               lambda pid: CountingBloom(k, m), seeds=CBF_SEEDS)
