"""Count-min sketch — d×w counter matrix, element-wise-add merge.

Frequency sketch in the library's partial/final pattern: two JVM ``xxhash64``
base hashes per row, d row-indices via Kirsch–Mitzenmacher (same double-
hashing scheme the reference uses for its Bloom indices,
/root/reference/src/filter.rs:303-311), per-batch ``bincount`` adds.
Distributed builds count in the engine instead (:meth:`CMS.engine_cells`:
the d counter indices as Catalyst expressions, ``count`` per counter as a
native aggregate); ``update_hashes`` stays for streaming folds and UDAFs.

Guarantees (Cormode & Muthukrishnan 2005): point estimates never
underestimate; overestimate ≤ εN with probability ≥ 1−δ for w = ⌈e/ε⌉,
d = ⌈ln(1/δ)⌉.
"""

from __future__ import annotations

import math
import struct

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksketch import sketch as _sk
from sparksketch.hashing import spark_xxhash64

CMS_SEEDS = (0xC4150001, 0xC4150002)

_MAGIC = b"CMS1"
_LO = 0xFFFFFFFF


class CMS:
    def __init__(self, d: int = 5, w: int = 8192):
        # engine_cells' index arithmetic needs w < 2^31 to stay inside a
        # signed long (and 2^31 counters per row would be 16 GiB anyway)
        if not 1 <= w < 1 << 31:
            raise ValueError(f"CMS width w must be in [1, 2^31), got {w}")
        self.d = d
        self.w = w
        self.counts = np.zeros((d, w), dtype=np.int64)
        self.total = 0

    def _indices(self, h1: np.ndarray, h2: np.ndarray, j: int) -> np.ndarray:
        return ((h1 + np.uint64(j) * h2) % np.uint64(self.w)).astype(np.int64)

    def update_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        for j in range(self.d):
            idx = self._indices(h1, h2, j)
            self.counts[j] += np.bincount(idx, minlength=self.w)
        self.total += int(h1.shape[0])

    # ---- engine update (sketch.build_sketch / sketch_by_group) ----

    engine_agg = staticmethod(F.count)

    def engine_cells(self, h1: Column, h2: Column) -> tuple[Column, Column]:
        """:meth:`update_hashes` as Catalyst expressions over the signed
        ``xxhash64`` columns: per row, the d flat counter indices
        ``j·w + c_j`` (exploded) and a 1 to count.  ``c_j = (h1 + j·h2) mod
        2^64 mod w`` is computed from the 32-bit halves of h1 and h2, so no
        long overflows under ANSI mode for any ``w < 2^31``."""
        lo1, hi1 = h1.bitwiseAND(F.lit(_LO)), F.shiftrightunsigned(h1, 32)
        lo2, hi2 = h2.bitwiseAND(F.lit(_LO)), F.shiftrightunsigned(h2, 32)
        w, r = self.w, (1 << 32) % self.w
        cells = []
        for j in range(self.d):
            lo = lo1 + lo2 * j
            hi = (hi1 + hi2 * j + F.shiftrightunsigned(lo, 32)).bitwiseAND(F.lit(_LO))
            cells.append(((hi % w) * r + lo.bitwiseAND(F.lit(_LO))) % w + j * w)
        return F.explode(F.array(*cells)), F.lit(1)

    def fill_cells(self, cells: np.ndarray, values: np.ndarray) -> "CMS":
        """Set the counters from ``engine_agg``'s (flat index, count) rows;
        every row adds one to each of the d rows, so ``total`` is row 0's sum."""
        self.counts.reshape(-1)[cells] = values
        self.total = int(self.counts[0].sum())
        return self

    def merge(self, other: "CMS") -> "CMS":
        if (self.d, self.w) != (other.d, other.w):
            raise ValueError("cannot merge CMS with different geometry")
        self.counts += other.counts
        self.total += other.total
        return self

    def to_bytes(self) -> bytes:
        return _MAGIC + struct.pack("<HIq", self.d, self.w, self.total) + self.counts.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CMS":
        assert data[:4] == _MAGIC
        d, w, total = struct.unpack_from("<HIq", data, 4)
        c = cls(d, w)
        off = 4 + struct.calcsize("<HIq")
        c.counts = np.frombuffer(data[off : off + d * w * 8], dtype=np.int64).reshape(d, w).copy()
        c.total = total
        return c

    # ---- queries ----

    def query_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        est = np.full(h1.shape[0], np.iinfo(np.int64).max, dtype=np.int64)
        for j in range(self.d):
            est = np.minimum(est, self.counts[j, self._indices(h1, h2, j)])
        return est

    def query(self, key: str | bytes) -> int:
        h1 = np.array([spark_xxhash64(key, CMS_SEEDS[0])], dtype=np.uint64)
        h2 = np.array([spark_xxhash64(key, CMS_SEEDS[1])], dtype=np.uint64)
        return int(self.query_hashes(h1, h2)[0])

    def epsilon(self) -> float:
        return math.e / self.w

    def error_bound(self) -> float:
        """Additive overestimate bound εN (holds per query w.p. ≥ 1−δ)."""
        return self.epsilon() * self.total


def cms_build(df: DataFrame, col: str, d: int = 5, w: int = 8192) -> CMS:
    """Global frequency sketch over a column.  Shuffles no raw rows: at
    most d·w aggregated counters per scan partition."""
    return _sk.build_sketch(df, col, lambda pid: CMS(d, w), seeds=CMS_SEEDS)


def cms_by_group(df: DataFrame, group_col: str, col: str, d: int = 5, w: int = 8192) -> DataFrame:
    """Per-group frequency sketches → DataFrame (group, state binary)."""
    return _sk.sketch_by_group(df, group_col, col, lambda pid: CMS(d, w), seeds=CMS_SEEDS)


def cms_topk(sketch: CMS, candidates: list[str], k: int = 10) -> list[tuple[str, int]]:
    """Heavy hitters over a candidate key set (e.g. the distinct hosts)."""
    ests = [(c, sketch.query(c)) for c in candidates]
    ests.sort(key=lambda t: (-t[1], t[0]))
    return ests[:k]
