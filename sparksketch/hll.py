"""HyperLogLog — dense registers, register-max merge, standard corrections.

Mergeable distinct-count sketch in the library's partial/final pattern
(SURVEY.md §2.2): one JVM ``xxhash64`` per row, element-wise-max merge.
Distributed builds update the registers in the engine (:meth:`HLL.engine_cells`:
register index and rho as Catalyst expressions, ``max`` per register as a
native aggregate); ``update_hashes`` is the numpy form of the same update, for
streaming folds and UDAFs.  Standard error 1.04/√m (Flajolet et al. 2007);
small-range correction via linear counting.  p ∈ [4, 18].
"""

from __future__ import annotations

import math
import struct

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksketch import sketch as _sk

HLL_SEED = 0x48114C06  # fixed stream for the single base hash

_MAGIC = b"HLL1"


def _seg_max(regs: np.ndarray, idx: np.ndarray, val: np.ndarray) -> None:
    """regs[idx] = max(regs[idx], val), vectorized via sort + reduceat
    (same trick as bloom's set_bits; ufunc.at is ~20× slower)."""
    if idx.size == 0:
        return
    order = np.argsort(idx, kind="stable")
    si = idx[order]
    sv = val[order]
    starts = np.concatenate(([0], np.flatnonzero(np.diff(si)) + 1))
    tgt = si[starts]
    regs[tgt] = np.maximum(regs[tgt], np.maximum.reduceat(sv, starts))


def _bit_length_u64(w: np.ndarray) -> np.ndarray:
    """Exact vectorized bit_length for uint64 (float log2 is unsafe >2^53)."""
    bl = np.zeros(w.shape, dtype=np.int64)
    cur = w.copy()
    for s in (32, 16, 8, 4, 2, 1):
        mask = cur >= (np.uint64(1) << np.uint64(s))
        bl[mask] += s
        cur[mask] >>= np.uint64(s)
    bl += (cur > 0).astype(np.int64)
    return bl


def _bit_length_col(w: Column) -> Column:
    """Exact bit_length of a non-negative long column.  ``floor(log2(double))
    + 1`` can be off by one (``log2(2^50 - 1)`` rounds to 50.0), so unsigned
    shifts check it and correct it in either direction."""
    b = (F.floor(F.log2(w)) + 1).cast("int")

    def shr(n: Column) -> Column:
        return F.call_function("shiftrightunsigned", w, n)

    return (F.when(w == 0, F.lit(0))
            .when(shr(b) > 0, b + 1)
            .when(shr(b - 1) == 0, b - 1)
            .otherwise(b))


class HLL:
    def __init__(self, p: int = 14):
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        self.p = p
        self.m = 1 << p
        self.regs = np.zeros(self.m, dtype=np.uint8)

    # ---- updates ----

    def update_hashes(self, h: np.ndarray) -> None:
        idx = (h & np.uint64(self.m - 1)).astype(np.int64)
        w = h >> np.uint64(self.p)  # remaining 64-p bits
        rho = ((64 - self.p) - _bit_length_u64(w) + 1).astype(np.uint8)
        _seg_max(self.regs, idx, rho)

    # ---- engine update (sketch.build_sketch / sketch_by_group) ----

    engine_agg = staticmethod(F.max)

    def engine_cells(self, h: Column) -> tuple[Column, Column]:
        """:meth:`update_hashes` as Catalyst expressions over the signed
        ``xxhash64`` column: (register index, rho) per row.  Only masks and
        unsigned shifts, so nothing overflows under ANSI mode."""
        w = F.shiftrightunsigned(h, self.p)
        return (h.bitwiseAND(F.lit(self.m - 1).cast("long")),
                F.lit(65 - self.p) - _bit_length_col(w))

    def fill_cells(self, cells: np.ndarray, values: np.ndarray) -> "HLL":
        """Set the registers from ``engine_agg``'s (index, max rho) rows."""
        self.regs[cells] = values
        return self

    # ---- merge / serde ----

    def merge(self, other: "HLL") -> "HLL":
        if other.p != self.p:
            raise ValueError("cannot merge HLLs with different p")
        self.regs = np.maximum(self.regs, other.regs)
        return self

    def to_bytes(self) -> bytes:
        return _MAGIC + struct.pack("<B", self.p) + self.regs.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "HLL":
        assert data[:4] == _MAGIC
        p = data[4]
        h = cls(p)
        h.regs = np.frombuffer(data[5 : 5 + (1 << p)], dtype=np.uint8).copy()
        return h

    # ---- estimate ----

    def estimate(self) -> float:
        m = self.m
        if m == 16:
            alpha = 0.673
        elif m == 32:
            alpha = 0.697
        elif m == 64:
            alpha = 0.709
        else:
            alpha = 0.7213 / (1 + 1.079 / m)
        e = alpha * m * m / np.sum(np.exp2(-self.regs.astype(np.float64)))
        if e <= 2.5 * m:
            zeros = int(np.count_nonzero(self.regs == 0))
            if zeros:
                return m * math.log(m / zeros)
        return float(e)

    def rel_error(self) -> float:
        return 1.04 / math.sqrt(self.m)


def hll_distinct(df: DataFrame, col: str, p: int = 14) -> float:
    """Global approximate COUNT(DISTINCT col).  Shuffles no raw rows: at
    most m aggregated registers per scan partition."""
    sk = _sk.build_sketch(df, col, lambda pid: HLL(p), seeds=(HLL_SEED,))
    return sk.estimate()


def hll_by_group(df: DataFrame, group_col: str, col: str, p: int = 14) -> DataFrame:
    """Per-group approximate distinct → DataFrame (group, state binary).
    Add an estimate column with ``sketch.estimate_col(HLL)``."""
    return _sk.sketch_by_group(df, group_col, col, lambda pid: HLL(p), seeds=(HLL_SEED,))
