"""The centerpiece: a hybrid dynamically-scalable cascading multidimensional
Bloom filter as a mergeable byte-array sketch over Spark DataFrames.

Architecture (Spark-first re-derivation of /root/reference/src/filter.rs):

- **Shard routing** — every key is routed to one of ``n_shards`` logical
  shards by a seeded JVM hash (``pmod(xxhash64(key, seed[0]), n_shards)``),
  the Spark analogue of the reference's shard vector + jump-hash routing
  (filter.rs:120-137).  The library has no jump hash: it only pays off when
  a live shard vector is *resized*, which the reference never does (shard
  count is fixed after init, filter.rs:190), so ``pmod`` routes alike for a
  fixed n — documented deviation.  All rows of a shard land in one partition
  (``repartition(P, shard_id)``), so each shard is built by exactly one task
  with exact local capacities and no atomics (the reference needs
  ``AtomicU64::fetch_or`` because shards are concurrently written,
  filter.rs:323; a Spark partition is single-threaded).
- **Tiers** — each shard holds ``cfg.tiers`` (default 2) independent cascades
  with disjoint (h1, h2) seed families: *cartographer* and *inheritor*
  (filter.rs:20-21, 444-458).  A key must match in **every** tier
  (AND-cascade, filter.rs:45-55) — the reference's signature accuracy
  mechanism; effective FPR ≈ product of tier FPRs.
- **Cascading levels** — instead of the reference's in-place rebuild-at-2m
  rehash (filter.rs:227-274), which is hostile to distributed merging, a
  shard-tier grows by *freezing* its active level and opening the next with
  ``m_{l+1} = 2·m_l`` when fill reaches the reference's rehash threshold
  (``m/n <= threshold``, filter.rs:373-375).  The build sorts each shard's
  keys and drops duplicates, and the key of rank r lands in the first level
  whose cumulative capacity exceeds r.  Deterministic geometry
  ``m_l = m0·2^l`` with ``k_l = optimal_k(m_l, expected_n(m_l))``
  (filter.rs:377-389) makes same-level arrays always OR-compatible, so merges
  are associative + commutative and never clear bits → zero false negatives
  survive any merge order.
- **Hashing** — Kirsch–Mitzenmacher double hashing (filter.rs:303-311) off
  two JVM-computed ``xxhash64`` base hashes per tier (xxh3_128 → xxh64 is a
  documented deviation; zero-FN and the FPR bound are seed-family-agnostic).
  The shuffle carries only two int64 base hashes per row (16 B) — shard id
  and per-tier KM pairs are derived in-kernel via splitmix64 — never the
  key text; at 100 TB input the shuffle is ~GBs.
- **Layout** — in memory a filter is, per (tier, level index), one table:
  a uint64 words array with a row per shard that holds the level, plus
  int64[n_shards] row numbers (-1 where a shard-tier lacks the level) and
  key counts (:class:`BloomFilterState`).  The build scatters into it, the
  probe gathers from it and a merge ORs into it; there is no second copy.
- **Build** — shard Exchange → external sort → one Arrow kernel per task,
  one scatter per tier and level index across a batch's shards into the
  task's tables; a task holds its shards' levels plus one batch
  (:func:`build_bloom_states`).
- **Merge** — :meth:`BloomFilterState.from_blobs` decodes any number of
  blobs into one filter in one pass: the driver's fold of a build's
  per-shard blobs, a checkpoint replay, the per-shard fold of a states
  table.  :meth:`BloomFilterState.merge` ORs one filter's tables into
  another's, one vectorised OR per tier and level index.  Same-shard
  same-level bitsets OR and their key counts add.  A merged level whose
  fill exceeds capacity is flagged (``overflowed``) — compaction =
  re-aggregating the source table, which is the distributed replacement for
  the reference's per-shard WAL (filter.rs:347-371, 490-524): the immutable
  input table *is* the key log.

Query paths — both probe the tables (:meth:`BloomFilterState.contains_hashes`):
one gather per tier and level index, for uniform, mixed-depth and strict
filters alike.

- :func:`with_membership` — broadcast the (small) filter blob, probe with a
  vectorized pandas UDF over JVM-precomputed hash columns.
- :func:`membership_join` — at 10^12-doc scale the filter itself is TBs and
  must stay distributed: keep the builder's per-shard state DataFrame and
  join probes to it on ``shard_id`` (co-partitioned equi-join), checking
  membership per shard group.  No driver collection anywhere.
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import json
import math
import os
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksketch.config import BloomConfig, expected_n, optimal_k
from sparksketch.hashing import (
    HASH_SEED_SELECTION,
    derive_shard,
    derive_tier_hashes,
    hash_col,
    km_indices,
    set_bits,
    spark_xxhash64,
    test_bits,
    tier_hashes,
)

_MAGIC = b"SKBF"
_VERSION = 2        # flags byte == 0 (the original pad byte)
_VERSION_FLAGS = 3  # same layout, nonzero flags byte (bit 0 = strict_parity)
# plain format strings, not struct.Struct objects: UDFs pickle
# BloomFilterState.from_bytes by value, and a Struct does not pickle
# magic, version, tiers, rehash, flags, n_shards, n_entries, threshold, m0
_HEADER = "<4sBBBBIIdQ"
_HEADER_SIZE = struct.calcsize(_HEADER)
_LEVEL = "<IQHQ"  # idx, m, k, n; then m // 8 bytes of bits
_LEVEL_SIZE = struct.calcsize(_LEVEL)


def _parse_header(data: bytes) -> tuple[int, int, int, float, bool, bool, int]:
    """Validated blob header → (tiers, n_shards, n_entries, threshold,
    rehash, strict, m0).  The one header parser: :meth:`BloomFilterState.from_bytes`
    and :func:`blob_geometry` both read through it."""
    if data[:4] != _MAGIC:
        raise ValueError("not a sparksketch bloom blob")
    if len(data) < _HEADER_SIZE:
        raise ValueError("truncated sparksketch bloom blob")
    (_, ver, tiers, rehash, flags, n_shards, n_entries, threshold,
     m0) = struct.unpack_from(_HEADER, data)
    if ver not in (_VERSION, _VERSION_FLAGS):
        raise ValueError(f"unsupported blob version {ver}")
    if ver == _VERSION and flags:
        raise ValueError("v2 blob with nonzero flags byte (corrupt or "
                         "written by a skewed writer) — refusing to guess")
    if flags & ~1:
        raise ValueError(f"unknown blob flag bits 0x{flags & ~1:x} — "
                         "written by a newer sparksketch; refusing to "
                         "probe with incompatible routing")
    if not (tiers >= 1 and rehash <= 1 and n_shards >= 1 and n_entries <= n_shards
            and m0 >= 64 and m0 & (m0 - 1) == 0
            and math.isfinite(threshold) and threshold > 0):
        raise ValueError(f"corrupt sparksketch bloom blob header: tiers={tiers} "
                         f"rehash={rehash} n_shards={n_shards} entries={n_entries} "
                         f"m0={m0} threshold={threshold}")
    return tiers, n_shards, n_entries, threshold, bool(rehash), bool(flags & 1), m0


@dataclass
class Level:
    """One frozen-or-active Bloom bit-array of a shard-tier cascade.

    Mirrors the reference's ``Shard`` bit state (filter.rs:279-288):
    ``m`` bits (power of two), ``k`` hash functions, ``n`` keys inserted,
    packed into a uint64 word array (filter.rs:403-407).  A filter holds
    its levels in tables (:class:`BloomFilterState`); a ``Level`` is one
    shard's view of one of them, or a hand-built level to construct from."""

    idx: int
    m: int
    k: int
    n: int
    bits: np.ndarray  # uint64[m // 64]

    @staticmethod
    def geometry(idx: int, m0: int, threshold: float) -> tuple[int, int]:
        """(m, k) of level ``idx``: the one definition shared by level
        opening and blob validation."""
        m = m0 << idx
        return m, optimal_k(m, expected_n(m, threshold))

    @classmethod
    def fresh(cls, idx: int, m0: int, threshold: float) -> "Level":
        m, k = cls.geometry(idx, m0, threshold)
        return cls(idx=idx, m=m, k=k, n=0, bits=np.zeros(m // 64, dtype=np.uint64))


@dataclass
class _Table:
    """One (tier, level index) of a filter: shard ``sid``'s bits are row
    ``row[sid]`` of ``words`` (-1: the shard-tier lacks the level), and
    ``n[sid]`` keys went into them.  Rows past the last one in use are
    growth room."""

    row: np.ndarray    # int64[n_shards]
    n: np.ndarray      # int64[n_shards]
    words: np.ndarray  # uint64[rows, m // 64], C-contiguous


class BloomFilterState:
    """A (possibly partial) filter: its frozen geometry and, per tier and
    level index, one :class:`_Table` with a words row per shard that holds
    the level.  ``tables[t][idx]`` is the filter, its probe index and its
    merge target; :attr:`shards` is a read view of it by shard.  ``shards``
    passed in (shard id → per tier a list of :class:`Level`) are copied in.
    A shard held in any tier holds a level in every tier, as the blob
    format needs."""

    def __init__(self, tiers: int, n_shards: int, m0: int, threshold: float, rehash: bool,
                 shards: dict[int, list[list[Level]]] | None = None, strict: bool = False):
        self.tiers, self.n_shards, self.m0 = tiers, n_shards, m0
        self.threshold, self.rehash = threshold, rehash
        # strict_parity: the reference's 2-shards-per-tier redundancy
        # (filter.rs:120-137) — tier t routes by base hash t, keys insert into
        # p1 and p2=(p1+mask/2)&mask, probes AND all four shard-tier checks
        self.strict = strict
        self.tables: list[dict[int, _Table]] = [{} for _ in range(tiers)]
        for sid, cascade in (shards or {}).items():
            if not 0 <= sid < n_shards or len(cascade) != tiers or not all(cascade):
                raise ValueError(f"shard {sid}: needs an id below {n_shards} and a level "
                                 f"in each of {tiers} tiers")
            for t, levels in enumerate(cascade):
                for lv in levels:
                    if (lv.m, lv.k) != Level.geometry(lv.idx, m0, threshold):
                        raise ValueError(f"shard {sid} tier {t} level {lv.idx}: "
                                         "(m, k) is not its geometry")
                    tb = self._grow(t, lv.idx, np.array([sid]))
                    tb.words[tb.row[sid]] |= lv.bits
                    tb.n[sid] += lv.n

    @classmethod
    def empty(cls, cfg: BloomConfig, n_shards: int, m0: int | None = None) -> "BloomFilterState":
        return cls(tiers=cfg.tiers, n_shards=n_shards, m0=m0 or cfg.m0,
                   threshold=cfg.threshold, rehash=cfg.rehash,
                   strict=cfg.strict_parity)

    # ---------------- tables ----------------

    def _levels(self, t: int):
        """(idx, m, k, table) of tier ``t``, by level index."""
        for idx, tb in sorted(self.tables[t].items()):
            yield (idx, *Level.geometry(idx, self.m0, self.threshold), tb)

    def _grow(self, t: int, idx: int, sids: np.ndarray) -> _Table:
        """Table (t, idx), with a zeroed row added for each shard of the
        distinct ``sids`` that lacks one.  A new table is allocated to its
        rows exactly; a full one doubles, so inserts cost O(1) per row."""
        tb = self.tables[t].get(idx)
        if tb is None:
            tb = self.tables[t][idx] = _Table(
                np.full(self.n_shards, -1, dtype=np.int64), np.zeros(self.n_shards, dtype=np.int64),
                np.zeros((0, (self.m0 << idx) // 64), dtype=np.uint64))
        new = sids[tb.row[sids] < 0]
        if new.size:
            used = int(tb.row.max()) + 1
            if used + new.size > len(tb.words):
                words = np.zeros((max(2 * used, used + new.size), tb.words.shape[1]),
                                 dtype=np.uint64)
                words[:used] = tb.words[:used]
                tb.words = words
            tb.row[new] = np.arange(used, used + new.size)
        return tb

    def _place(self, t: int, idx: int, shard: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(flat words of table (t, idx), bit offset of each ``shard``
        entry's row in it) for one scatter, counting a key per entry."""
        tb = self._grow(t, idx, np.unique(shard))
        tb.n += np.bincount(shard, minlength=self.n_shards)
        return tb.words.reshape(-1), tb.row[shard].astype(np.uint64) * np.uint64(self.m0 << idx)

    def _shard_ids(self) -> np.ndarray:
        """The ids of the shards the filter holds, in order."""
        held = np.zeros(self.n_shards, dtype=bool)
        for tier in self.tables:
            for tb in tier.values():
                held |= tb.row >= 0
        return np.flatnonzero(held)

    def _open(self, sids: np.ndarray) -> None:
        """Give each of the distinct ``sids`` level 0 in every tier that lacks it."""
        for t in range(self.tiers):
            self._grow(t, 0, sids)

    @property
    def shards(self) -> dict[int, list[list[Level]]]:
        """Read view: shard id → per tier its levels by index.  Each
        ``Level.bits`` is a view of its table row, so a write to it reaches
        the filter; the view goes stale when a merge or insert adds rows."""
        view = {sid: [[] for _ in range(self.tiers)] for sid in self._shard_ids().tolist()}
        for t in range(self.tiers):
            for idx, m, k, tb in self._levels(t):
                for sid in np.flatnonzero(tb.row >= 0).tolist():
                    view[sid][t].append(Level(idx, m, k, int(tb.n[sid]), tb.words[tb.row[sid]]))
        return view

    # ---------------- serialization ----------------

    def _header(self, n_entries: int) -> bytes:
        # the flags byte occupies what was the V2 pad byte; blobs with any
        # flag set are stamped V3 so a pre-flags reader REJECTS them instead
        # of silently decoding strict=False and probing with default routing
        # (a zero-FN contract break under reader/writer version skew)
        flags = int(self.strict)
        return struct.pack(_HEADER, _MAGIC, _VERSION_FLAGS if flags else _VERSION, self.tiers,
                           int(self.rehash), flags, self.n_shards, n_entries, self.threshold,
                           self.m0)

    def _entries(self):
        """(shard id, the shard's blob entry as a list of byte buffers) of
        every shard held, in id order."""
        tiers = [[(idx, m, k, tb.row.tolist(), tb.n.tolist(), tb.words)
                  for idx, m, k, tb in self._levels(t)] for t in range(self.tiers)]
        for sid in self._shard_ids().tolist():
            out = [struct.pack("<I", sid)]
            for levels in tiers:
                held = [lv for lv in levels if lv[3][sid] >= 0]
                out.append(struct.pack("<H", len(held)))
                for idx, m, k, row, n, words in held:
                    out += (struct.pack(_LEVEL, idx, m, k, n[sid]), words[row[sid]])
            yield sid, out

    def to_bytes(self) -> bytes:
        entries = [entry for _, entry in self._entries()]
        return b"".join([self._header(len(entries)), *(p for entry in entries for p in entry)])

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilterState":
        """Decode and validate one blob (:meth:`from_blobs`)."""
        return cls.from_blobs([data])

    @classmethod
    def from_blobs(cls, blobs) -> "BloomFilterState":
        """Decode blobs of one filter geometry into one filter: the decoder,
        and the fold of a build's shard blobs, of partial states and of a
        checkpoint.  Levels that several blobs hold for one shard-tier are
        ORed and their key counts add.  Each table is allocated to its rows
        exactly, and the bits are copied straight from the blobs.

        Every malformed blob (truncated, trailing bytes, a tier with no
        levels, a level whose (m, k) is not its index's geometry, level
        indices not increasing within a tier, shard ids out of range or not
        increasing) raises ``ValueError`` instead of decoding into a filter
        that probes differently; so do blobs of different geometries and an
        empty ``blobs``."""
        blobs = list(blobs)
        head, rehash0, geometry = None, False, {}
        found: dict[tuple[int, int], list[tuple[int, int, int, int]]] = {}  # sid, n, blob, offset
        for b, data in enumerate(blobs):
            tiers, n_shards, n_entries, threshold, rehash, strict, m0 = _parse_header(data)
            if head is None:
                head, rehash0 = (tiers, n_shards, m0, threshold, strict), rehash
            elif (tiers, n_shards, m0, threshold, strict) != head:
                raise ValueError("cannot merge filters with different geometry")
            off, prev_sid = _HEADER_SIZE, -1
            try:
                for _ in range(n_entries):
                    (sid,) = struct.unpack_from("<I", data, off)
                    off += 4
                    if not prev_sid < sid < n_shards:
                        raise ValueError(f"shard id {sid} out of order or >= n_shards={n_shards}")
                    prev_sid = sid
                    for t in range(tiers):
                        (n_levels,) = struct.unpack_from("<H", data, off)
                        off += 2
                        if n_levels == 0:  # no writer emits one; it would probe every key absent
                            raise ValueError(f"shard {sid} tier {t} has no levels")
                        prev_idx = -1
                        for _l in range(n_levels):
                            idx, m, k, n = struct.unpack_from(_LEVEL, data, off)
                            off += _LEVEL_SIZE
                            if idx <= prev_idx:
                                raise ValueError(f"shard {sid} tier {t}: level indices "
                                                 "not increasing")
                            prev_idx = idx
                            want = geometry.get(idx)
                            if want is None and idx < 64:  # m is a u64 field
                                want = geometry[idx] = Level.geometry(idx, m0, threshold)
                            if (m, k) != want or n >> 63:
                                raise ValueError(f"shard {sid} tier {t} level {idx}: (m, k, n) = "
                                                 f"({m}, {k}, {n}), geometry says {want}")
                            if off + m // 8 > len(data):
                                raise ValueError("truncated sparksketch bloom blob")
                            found.setdefault((t, idx), []).append((sid, n, b, off))
                            off += m // 8
            except struct.error as e:
                raise ValueError("truncated sparksketch bloom blob") from e
            if off != len(data):
                raise ValueError(f"{len(data) - off} trailing bytes after a sparksketch bloom blob")
        if head is None:
            raise ValueError("no sparksketch bloom blob to decode")
        tiers, n_shards, m0, threshold, strict = head
        st = cls(tiers, n_shards, m0, threshold, rehash0, strict=strict)
        views = [memoryview(b) for b in blobs]
        for (t, idx), placed in sorted(found.items()):
            w = (m0 << idx) // 64
            sids, ns, srcs, offs = zip(*placed)
            held, first = np.unique(sids, return_index=True)
            tb = st.tables[t][idx] = _Table(np.full(n_shards, -1, dtype=np.int64),
                                           np.zeros(n_shards, dtype=np.int64),
                                           np.empty((held.size, w), dtype=np.uint64))
            tb.row[held] = np.arange(held.size)
            np.add.at(tb.n, np.array(sids), np.array(ns, dtype=np.int64))
            raw, nb = memoryview(tb.words).cast("B"), 8 * w
            rows, copy = tb.row[list(sids)].tolist(), set(first.tolist())
            for i, (r, src, off) in enumerate(zip(rows, srcs, offs)):
                if i in copy:
                    raw[r * nb:(r + 1) * nb] = views[src][off:off + nb]
                else:
                    tb.words[r] |= np.frombuffer(blobs[src], dtype=np.uint64, count=w, offset=off)
        return st

    # ---------------- merge (associative + commutative) ----------------

    def merge(self, other: "BloomFilterState") -> "BloomFilterState":
        """OR-merge ``other`` into self in place and return self, like every
        other sketch's ``merge``: per tier and level index, rows are added
        for the shards self lacks, then one vectorised OR covers every
        shard, and the key counts add.  O(|other|); the donor is copied,
        never aliased.  A geometry mismatch raises ``ValueError`` before
        anything changes."""
        if (self.tiers, self.n_shards, self.m0, self.threshold, self.strict) != (
            other.tiers, other.n_shards, other.m0, other.threshold, other.strict
        ):
            raise ValueError("cannot merge filters with different geometry")
        for t, tier in enumerate(other.tables):
            for idx, src in sorted(tier.items()):
                sids = np.flatnonzero(src.row >= 0)
                tb = self._grow(t, idx, sids)
                tb.words[tb.row[sids]] |= src.words[src.row[sids]]
                tb.n += src.n
        return self

    # ---------------- queries ----------------

    def _base_hashes(self, key: str | bytes) -> tuple[np.ndarray, np.ndarray]:
        h1 = spark_xxhash64(key, HASH_SEED_SELECTION[0])
        h2 = spark_xxhash64(key, HASH_SEED_SELECTION[1])
        return (np.array([h1], dtype=np.uint64).view(np.int64),
                np.array([h2], dtype=np.uint64).view(np.int64))

    def contains(self, key: str | bytes) -> bool:
        """Driver-side single-key probe (tests / point lookups) — exact
        replica of the distributed path via the Spark-parity XXH64.
        Counterpart of ``contains`` filter.rs:45-55."""
        h1, h2 = self._base_hashes(key)
        return bool(self.contains_hashes(h1, h2)[0])

    def _probe_tier(self, t: int, shard: np.ndarray, h1: np.ndarray, h2: np.ndarray,
                    active: np.ndarray) -> np.ndarray:
        """Membership of each ``active`` row in tier ``t`` of its ``shard``
        (OR over the tier's levels); inactive rows, and rows whose shard the
        filter lacks, come back False.  One flat gather per level index,
        never a loop over shards, so the cost per key does not depend on
        the geometry."""
        ok = np.zeros(shard.shape[0], dtype=bool)
        for _idx, m, k, tb in self._levels(t):
            row = tb.row[shard]
            rows = np.flatnonzero(active & ~ok & (row >= 0))
            if rows.size:
                bit_base = row[rows].astype(np.uint64) * np.uint64(m)
                ok[rows] = test_bits(tb.words.reshape(-1), km_indices(h1[rows], h2[rows], k, m)
                                     + bit_base[:, None])
        return ok

    def contains_hashes(self, h1_i64: np.ndarray, h2_i64: np.ndarray) -> np.ndarray:
        """Vectorized membership over the two shipped base hashes (int64);
        shard routing and per-tier KM pairs are derived exactly as in the
        build kernel.  Every geometry (uniform, mixed level depths, strict)
        takes the same flat gather over the tables: OR over a tier's
        levels, AND over tiers.  Strict-parity filters AND over *both*
        shards of each tier (p1 and the reference's ``p2=(p1+mask/2)&mask``,
        filter.rs:120-137)."""
        if self.strict:
            off = (self.n_shards - 1) // 2
            routes = (derive_shard(h1_i64, self.n_shards), derive_shard(h2_i64, self.n_shards))
            checks = [(t, s) for t in range(self.tiers)
                      for s in (routes[t], (routes[t] + off) % self.n_shards)]
        else:
            shard = derive_shard(h1_i64, self.n_shards)
            checks = [(t, shard) for t in range(self.tiers)]
        tier_hashes = derive_tier_hashes(h1_i64, h2_i64, self.tiers)
        result = np.ones(h1_i64.shape[0], dtype=bool)
        for t, shard in checks:
            result = self._probe_tier(t, shard, *tier_hashes[t], result)
            if not result.any():
                break
        return result

    # ---------------- stats ----------------

    @property
    def key_count(self) -> int:
        inserts_per_key = max(self.tiers, 1) * (2 if self.strict else 1)
        inserts = sum(int(tb.n.sum()) for tier in self.tables for tb in tier.values())
        return inserts // inserts_per_key

    @property
    def bit_size(self) -> int:
        return sum(m * int((tb.row >= 0).sum())
                   for t in range(self.tiers) for _idx, m, _k, tb in self._levels(t))

    def fpr_bound(self) -> float:
        """Upper bound on FPR for a probe: worst shard's product over tiers of
        the union bound over levels of per-level fill FPR, (1 - e^{-kn/m})^k.
        Strict mode checks TWO shards per tier, so each tier's worst-shard
        term squares (independent shards — the reference's 4-shard-check FPR
        shape)."""
        if not self._shard_ids().size:
            return 0.0
        checks = 2 if self.strict else 1
        p = 1.0
        for t in range(self.tiers):
            fpr = np.zeros(self.n_shards)
            for _idx, m, k, tb in self._levels(t):
                held = tb.row >= 0
                fpr[held] += (1.0 - np.exp(-k * tb.n[held] / m)) ** k
            p *= min(1.0, float(fpr.max())) ** checks
        return p

    def estimate_distinct(self) -> float:
        """Distinct-key estimate from the observed bit fill (Swamidass &
        Baldi 2007): n̂ = Σ_levels −(m/k)·ln(1 − X/m) over TIER 0 (each key
        lives in every tier, so one tier carries the full population; a key
        lands in exactly one level of its shard's cascade).  This is what
        ``key_count`` (exact insertion counter) cannot give: the number of
        DISTINCT keys, with no extra pass and no extra state — the filter
        itself is the cardinality sketch.

        Caveats: one build places each distinct key once, so duplicates
        within a build never count twice; but merges of separate builds
        (streaming micro-batches, say) add, and a key present in two of
        them counts once per level it landed in.  A saturated level
        (X == m) contributes its capacity bound instead of ∞.
        Strict-parity filters insert every key into TWO tier-0 shards
        (p1 and the antipodal p2, filter.rs:120-137), so the tier-0
        aggregate fill reflects 2n placements — divided back out below.
        """
        terms = []  # per level of tier 0: each shard's term
        for _idx, m, k, tb in self._levels(0):
            held = np.flatnonzero(tb.row >= 0)
            bits = np.unpackbits(tb.words[tb.row[held]].view(np.uint8), axis=1)
            x = bits.sum(axis=1, dtype=np.int64)
            term = np.zeros(self.n_shards)
            # saturated: the formula diverges; report the estimate at one
            # unset bit (its maximum resolvable value)
            term[held] = np.where(x >= m, (m / k) * math.log(m),
                                  -(m / k) * np.log1p(-np.minimum(x, m - 1) / m))
            terms.append(term)
        if not terms:
            return 0.0
        # summed in (shard, level) order: the float sum is then identical
        # between a direct build and any merge order of partials with the
        # same bits
        est = float(np.add.accumulate(np.stack(terms, axis=1).ravel())[-1])
        return est / 2.0 if self.strict else est

    def configured_fpr_bound(self) -> float:
        """The configured per-probe bound: each tier contributes at most
        (levels)·0.6185^threshold per checked shard; tiers (and, in strict
        mode, the second shard per tier) multiply (filter.rs:373-383
        semantics; see SURVEY.md §1.3)."""
        max_levels = max((int(sum(tb.row >= 0 for tb in tier.values()).max())
                          for tier in self.tables if tier), default=1)
        per_tier = min(1.0, max_levels * (0.6185 ** self.threshold))
        checks = 2 if self.strict else 1
        return per_tier ** (self.tiers * checks)

    def overflowed_levels(self) -> list[tuple[int, int, int]]:
        """(shard, tier, level) whose merged key count exceeds capacity —
        signals a compaction (re-aggregation of the source table) is advised."""
        out = []
        for t in range(self.tiers):
            for idx, m, _k, tb in self._levels(t):
                over = (tb.row >= 0) & (tb.n > expected_n(m, self.threshold))
                out += [(sid, t, idx) for sid in np.flatnonzero(over).tolist()]
        return sorted(out)


# ====================================================================
# distributed build
# ====================================================================

_ROUTE = "_skshard"
_STATE_SCHEMA = "shard int, rows long, state binary"
_KERNEL_VERSION = 2  # in the build fingerprint: 2 is the sorted, deduplicated kernel
_SCATTER_ROWS = 8192      # rows per km_indices + set_bits: bounds the (rows, k) temporaries
_BATCH_BYTES = 64 << 20   # a task's shard blobs leave in batches of about this size


def resolve_m0(cfg: BloomConfig, n_shards: int, expected_keys: int | None) -> int:
    """Size the initial level from a cardinality hint so the cascade opens
    few levels (the mergeable analogue of pre-sizing the reference's shards).
    Never below the configured m0 (/root/reference/src/filter.rs:149-154).
    Strict parity doubles the per-shard key load (each key inserts into two
    shards per tier)."""
    if not expected_keys:
        return cfg.m0
    copies = 2 if cfg.strict_parity else 1
    per_shard = max(1, expected_keys * copies // n_shards)
    return max(cfg.m0, 1 << (int(per_shard * cfg.threshold) - 1).bit_length())  # next power of 2


def hash_probe_cols(col: str | Column) -> list[Column]:
    """The two JVM-side base-hash columns (16 B/row) — everything else
    (shard id, per-tier KM hash pairs) is derived in the numpy kernels via
    splitmix64, halving the shuffle + Arrow transfer vs shipping per-tier
    columns.  Seed roles: HASH_SEED_SELECTION[0] -> h1 (also routes shards
    via pmod), [1] -> h2, [2..7] -> tier derivation constants."""
    return [
        hash_col(col, HASH_SEED_SELECTION[0]).alias("_skh_a"),
        hash_col(col, HASH_SEED_SELECTION[1]).alias("_skh_b"),
    ]


def route_expr(n_shards: int) -> Column:
    """The repartition expression: pmod of the shipped base hash. Used only
    to co-locate rows of a shard — it is not materialized in the row."""
    return F.pmod(F.col("_skh_a"), F.lit(n_shards).cast("long"))


def strict_targets(n_shards: int) -> Column:
    """The strict-parity 4-way (tier, shard) target array: tier t routes by
    base hash t (reference per-tier seeds filter.rs:120-137), each with its
    antipodal second shard ``p2 = (p1 + mask/2) & mask`` (filter.rs:133-134,
    ``mask/2`` with integer division).  ONE definition shared by the build's
    explode and the strict probe's explode — if they diverged, the build
    would insert and the probe check different shards: false negatives."""
    off = (n_shards - 1) // 2
    nlit = F.lit(n_shards).cast("long")
    p1a = F.pmod(F.col("_skh_a"), nlit)
    p1b = F.pmod(F.col("_skh_b"), nlit)
    return F.array(
        F.struct(F.lit(0).alias("t"), p1a.alias("s")),
        F.struct(F.lit(0).alias("t"), F.pmod(p1a + off, nlit).alias("s")),
        F.struct(F.lit(1).alias("t"), p1b.alias("s")),
        F.struct(F.lit(1).alias("t"), F.pmod(p1b + off, nlit).alias("s")),
    )


def _insert_ranked(rank: np.ndarray, first: int, m0: int, threshold: float, rehash: bool,
                   tier_rows: list[tuple[int, np.ndarray, np.ndarray]], target) -> None:
    """The one insert kernel: level by rank, then scatter.  Levels
    ``first``, ``first + 1``, ... take the ranks in order, each up to its
    capacity (the reference's fill threshold, filter.rs:92-118; without
    rehash ``first`` takes all), and each tier's (t, h1_t, h2_t) rows get
    their k bits by one chunked scatter per level into
    ``target(t, idx, rows)``: (flat words, bit offset per row)."""
    if not rank.size:
        return
    caps = [max(expected_n(m0 << first, threshold), 1)]
    while rehash and sum(caps) <= rank.max():
        caps.append(max(expected_n(m0 << (first + len(caps)), threshold), 1))
    pos = np.searchsorted(np.cumsum(caps[:-1]), rank, side="right")
    for p in range(len(caps)):
        rows = np.flatnonzero(pos == p)
        if not rows.size:
            continue
        m, k = Level.geometry(first + p, m0, threshold)
        for t, h1, h2 in tier_rows:
            words, base = target(t, first + p, rows)
            if rows.size < rank.size:  # one level takes every row: no gather
                h1, h2 = h1[rows], h2[rows]
            for s in range(0, rows.size, _SCATTER_ROWS):
                bit = km_indices(h1[s:s + _SCATTER_ROWS], h2[s:s + _SCATTER_ROWS], k, m)
                set_bits(words, bit + base[s:s + _SCATTER_ROWS, None])


def _insert_arrivals(st: BloomFilterState, sid: int, t: int, h1: np.ndarray,
                     h2: np.ndarray) -> None:
    """Insert (h1_t, h2_t) rows into tier ``t`` of shard ``sid`` in arrival
    order: ranks continue from the active level's fill, and levels open as
    ranks reach them (:meth:`GroupBloom.update_hashes`; the distributed
    builds sort first, :func:`_insert_sorted`).  A new shard gets level 0 in
    every tier first."""
    st._open(np.array([sid]))
    first = max(idx for idx, tb in st.tables[t].items() if tb.row[sid] >= 0)
    _insert_ranked(int(st.tables[t][first].n[sid]) + np.arange(h1.size), first, st.m0,
                   st.threshold, st.rehash, [(t, h1, h2)],
                   lambda _t, idx, rows: st._place(t, idx, np.full(rows.size, sid)))


def _column(batch: pa.RecordBatch, name: str) -> np.ndarray:
    return batch.column(name).to_numpy(zero_copy_only=False).astype(np.int64)


def _insert_sorted(st: BloomFilterState, group: np.ndarray, shard: np.ndarray,
                   tier: np.ndarray | None, h1: np.ndarray, h2: np.ndarray,
                   count: np.ndarray, last):
    """The insert step of both distributed builds, over a batch sorted by
    (group, h1, h2), a group being a shard or a strict shard-tier: adjacent
    duplicates are dropped, a key's rank in its group picks its level, and
    one scatter per tier and level index covers the batch.  A row goes to
    its ``tier`` (strict), else to every tier.  ``count`` (keys per group)
    and ``last`` (the last row, returned) carry across batches, so the
    filter is a function of the distinct key set."""
    keep = np.empty(h1.size, dtype=bool)
    keep[0] = last != (group[0], h1[0], h2[0])
    keep[1:] = (group[1:] != group[:-1]) | (h1[1:] != h1[:-1]) | (h2[1:] != h2[:-1])
    last = (group[-1], h1[-1], h2[-1])
    h1, h2, shard, group = h1[keep], h2[keep], shard[keep], group[keep]
    if not group.size:
        return last
    starts = np.flatnonzero(np.concatenate(([True], group[1:] != group[:-1])))
    runs = np.diff(np.append(starts, group.size))
    rank = np.arange(group.size) - np.repeat(starts - count[group[starts]], runs)
    count[group[starts]] += runs
    parts = ([(np.flatnonzero(tier[keep] == t), [t]) for t in range(st.tiers)]
             if tier is not None else [(slice(None), range(st.tiers))])
    for sel, ts in parts:
        _insert_ranked(rank[sel], 0, st.m0, st.threshold, st.rehash,
                       [(t, *tier_hashes(h1[sel], h2[sel], t)) for t in ts],
                       lambda t, idx, r, s=shard[sel]: st._place(t, idx, s[r]))
    return last


def _blob_batches(rows, schema: dict):
    """Rows (tuples that end in a blob) as Arrow batches of the ``schema``
    columns (name → type), cut where the blobs pass ``_BATCH_BYTES``."""
    chunk, size = [], 0
    for row in itertools.chain(rows, [None]):
        if row is not None:
            chunk.append(row)
            size += len(row[-1])
        if chunk and (row is None or size >= _BATCH_BYTES):
            yield pa.RecordBatch.from_arrays(list(map(pa.array, zip(*chunk), schema.values())),
                                             names=list(schema))
            chunk, size = [], 0


def _shard_batches(st: BloomFilterState):
    """A task's shards as single-shard blobs (:func:`_blob_batches`)."""
    header = st._header(1)
    keys = sum(tb.n for tb in st.tables[0].values())  # the rows column: tier-0 keys
    return _blob_batches(((sid, int(keys[sid]), b"".join([header, *entry]))
                          for sid, entry in st._entries()),
                         {"shard": pa.int32(), "rows": pa.int64(), "state": pa.binary()})


def _digest(blob: bytes) -> str:
    return hashlib.blake2b(blob, digest_size=8).hexdigest()


def _write_checkpoint(checkpoint_dir: str, pid: int, st: BloomFilterState, nrows: int,
                      fingerprint: str) -> None:
    """The task's blob, then the meta that vouches for it (fingerprint,
    length, digest).  The old meta goes first: a task that dies in between
    leaves a blob no meta vouches for, which a resume rebuilds."""
    blob = st.to_bytes()
    meta = {"pid": pid, "rows": nrows, "fingerprint": fingerprint,
            "shards": st._shard_ids().tolist(), "bytes": len(blob), "blake2b": _digest(blob)}
    os.makedirs(checkpoint_dir, exist_ok=True)
    part = os.path.join(checkpoint_dir, f"part-{pid:05d}")
    if os.path.exists(part + ".meta.json"):
        os.remove(part + ".meta.json")
    tmp = os.path.join(checkpoint_dir, f".part-{pid:05d}")
    for ext, tmp_ext, data in ((".bin", ".tmp", blob),
                               (".meta.json", ".meta.tmp", json.dumps(meta).encode())):
        with open(tmp + tmp_ext, "wb") as f:
            f.write(data)
        os.replace(tmp + tmp_ext, part + ext)


def _build_partition_fn(cfg: BloomConfig, n_shards: int, m0: int,
                        checkpoint_dir: str | None, fingerprint: str | None,
                        completed: frozenset[int]):
    """The build kernel over a task's rows sorted by (shard, h1, h2); strict
    rows are the (shard, tier) insert targets (``_skshard``/``_sktier``),
    sorted by (shard, tier, h1, h2).  Every batch goes through
    :func:`_insert_sorted` into the task's one filter."""
    tiers, strict = cfg.tiers, cfg.strict_parity

    def fn(batches):
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        if checkpoint_dir and pid in completed:
            # resume: replay the checkpointed state WITHOUT consuming the
            # input iterator — the task finishes without scanning its split
            # (per-partition lineage, north_rule).
            with open(os.path.join(checkpoint_dir, f"part-{pid:05d}.bin"), "rb") as f:
                yield from _shard_batches(BloomFilterState.from_bytes(f.read()))
            return

        st = BloomFilterState(tiers, n_shards, m0, cfg.threshold, cfg.rehash, strict=strict)
        count = np.zeros(n_shards * (tiers if strict else 1), dtype=np.int64)  # keys per group
        last, nrows = None, 0
        for batch in batches:
            nrows += batch.num_rows
            if not batch.num_rows:
                continue
            h1, h2 = _column(batch, "_skh_a"), _column(batch, "_skh_b")
            if strict:
                shard, tier = _column(batch, _ROUTE), _column(batch, "_sktier")
                group = shard * tiers + tier
            else:
                shard = group = derive_shard(h1, n_shards)
                tier = None
            last = _insert_sorted(st, group, shard, tier, h1, h2, count, last)
        st._open(st._shard_ids())  # strict: a shard may get no key of some tier
        if checkpoint_dir:
            _write_checkpoint(checkpoint_dir, pid, st, nrows, fingerprint)
        yield from _shard_batches(st)

    return fn


def build_fingerprint(cfg: BloomConfig, n_shards: int, m0: int, partitions: int,
                      col: str, input_id: str) -> str:
    payload = (f"{cfg.tiers}|{cfg.threshold}|{cfg.rehash}|{n_shards}|{m0}"
               f"|{partitions}|{col}|{input_id}|strict={int(cfg.strict_parity)}"
               f"|kernel={_KERNEL_VERSION}")
    return format(spark_xxhash64(payload, 7), "016x")


def completed_partitions(checkpoint_dir: str | None, fingerprint: str, cfg: BloomConfig,
                         n_shards: int, m0: int) -> frozenset[int]:
    """Partitions a resume may replay: the meta carries this build's
    fingerprint, the blob has the length and digest the meta records, and
    the blob header has this build's geometry.  Every other partition,
    malformed metas included, is rebuilt."""
    if not checkpoint_dir or not os.path.isdir(checkpoint_dir):
        return frozenset()
    want = (cfg.tiers, n_shards, cfg.threshold, cfg.rehash, cfg.strict_parity, m0)
    done = set()
    for name in os.listdir(checkpoint_dir):
        if not name.endswith(".meta.json"):
            continue
        try:
            with open(os.path.join(checkpoint_dir, name)) as f:
                meta = json.load(f)
            pid = meta["pid"]
            if (type(pid) is not int or name != f"part-{pid:05d}.meta.json"
                    or meta["fingerprint"] != fingerprint):
                continue
            with open(os.path.join(checkpoint_dir, f"part-{pid:05d}.bin"), "rb") as f:
                blob = f.read()
            tiers, shards, _n, threshold, rehash, strict, blob_m0 = _parse_header(blob)
            if ((len(blob), _digest(blob)) == (meta["bytes"], meta["blake2b"])
                    and (tiers, shards, threshold, rehash, strict, blob_m0) == want):
                done.add(pid)
        except (OSError, ValueError, KeyError, TypeError):
            continue
    return frozenset(done)


def build_bloom_states(df: DataFrame, col: str, cfg: BloomConfig = BloomConfig(),
                       n_shards: int | None = None, partitions: int | None = None,
                       expected_keys: int | None = None,
                       checkpoint_dir: str | None = None, input_id: str = "",
                       enforce_key_limit: bool = True) -> tuple[DataFrame, dict]:
    """Distributed build → DataFrame of ``(shard int, rows long, state binary)``.

    This is the at-scale product: the filter stays a DataFrame (never
    collected), queryable via :func:`membership_join` and persistable with
    plain ``.write.parquet``.

    Plan: parquet scan → Project (key cast, guard filter, JVM hash columns —
    whole-stage codegen) → Exchange on shard id (16 B/row — two base hashes;
    never the text) → Sort within partitions by (shard, h1, h2), strict by
    (shard, tier, h1, h2) (Spark's external sort: it spills) → MapInArrow
    (:func:`_build_partition_fn`).  Each shard is built by one task, which
    holds its shards' level tables (about filter_size / partitions; a
    table grows by doubling, so up to twice that) plus one Arrow batch.
    Row order, input partitioning and duplicate keys change no byte
    of the filter, and ``key_count`` counts distinct keys.

    Checkpointing (``checkpoint_dir``) assumes ONE filesystem visible to the
    driver and every task at the same path — true in local mode and on any
    shared mount (NFS, fuse-mounted object store); on a cluster without one,
    point it at such a mount or leave it off.  A partition is replayed only
    if its blob matches its meta's length and digest and the build's
    geometry (:func:`completed_partitions`).  If ``input_id`` is empty it
    defaults to a fingerprint of the DataFrame's input files, so checkpoints
    of different source tables never collide; for non-file sources pass an
    explicit ``input_id``.
    """
    spark = df.sparkSession
    n_shards = n_shards or cfg.shards
    partitions = partitions or spark.sparkContext.defaultParallelism
    m0 = resolve_m0(cfg, n_shards, expected_keys)
    if checkpoint_dir and not input_id:
        # two different datasets built with identical (config, partitions,
        # col) must not share a checkpoint fingerprint — default the input
        # identity to the source files when the caller didn't supply one
        files = df.inputFiles()
        if files:
            input_id = format(spark_xxhash64("|".join(sorted(files)), 11), "016x")

    keyed = df.select(F.col(col).cast("string").alias("_skkey"))
    if enforce_key_limit:
        # The reference *documents* a 1 MB key cap but never enforces it
        # (README.md:14-15 vs filter.rs:509-510); we make the contract real.
        keyed = keyed.filter(F.octet_length("_skkey") <= cfg.max_key_bytes)
    hashed = keyed.select(*hash_probe_cols("_skkey"))
    if cfg.strict_parity:
        # reference parity (filter.rs:120-137): tier t routes by base hash t;
        # each key inserts into p1 and p2 = (p1 + mask/2) & mask.  Explode to
        # the 2·tiers (shard, tier) insert events JVM-side, then shuffle on
        # shard — still only ~17 B/row × 4, never the key text.
        if n_shards < 4 or n_shards & (n_shards - 1):
            raise ValueError("strict_parity needs a power-of-two n_shards >= 4 "
                             "(the reference's mask arithmetic, filter.rs:133-134)")
        hashed = (hashed.select("_skh_a", "_skh_b", F.explode(strict_targets(n_shards)).alias("_tgt"))
                  .select("_skh_a", "_skh_b",
                          F.col("_tgt.t").alias("_sktier"),
                          F.col("_tgt.s").alias(_ROUTE)))
        shuffle_key, order = F.col(_ROUTE), [F.col(_ROUTE), F.col("_sktier")]
    else:
        shuffle_key = route_expr(n_shards)
        order = [shuffle_key]
    routed = (hashed.repartition(partitions, shuffle_key)
              .sortWithinPartitions(*order, "_skh_a", "_skh_b"))

    fingerprint = build_fingerprint(cfg, n_shards, m0, partitions, col, input_id)
    completed = completed_partitions(checkpoint_dir, fingerprint, cfg, n_shards, m0)
    fn = _build_partition_fn(cfg, n_shards, m0, checkpoint_dir, fingerprint, completed)
    states = routed.mapInArrow(fn, _STATE_SCHEMA)
    info = {"n_shards": n_shards, "partitions": partitions, "m0": m0,
            "fingerprint": fingerprint, "resumed_partitions": sorted(completed)}
    return states, info


def build_bloom(df: DataFrame, col: str, cfg: BloomConfig = BloomConfig(),
                n_shards: int | None = None, partitions: int | None = None,
                expected_keys: int | None = None, checkpoint_dir: str | None = None,
                input_id: str = "", enforce_key_limit: bool = True,
                merge: str = "auto") -> BloomFilterState:
    """Build and OR-merge into a single driver-side filter.

    The per-shard blobs are collected once (one Spark job) and decoded into
    one filter by one :meth:`~BloomFilterState.from_blobs` pass, so the
    fold costs O(filter size) at any shard count.  Each shard comes from
    one task, so the fold ORs no bits.  ``merge`` accepts ``"auto"`` and
    ``"driver"``, which both mean this fold; any other value raises
    ``ValueError``.  For a filter too big for driver memory, never collect
    it: use :func:`build_bloom_states` + :func:`membership_join`."""
    if merge not in ("auto", "driver"):
        raise ValueError(f"merge={merge!r}: build_bloom has one merge, the driver fold "
                         "('auto' or 'driver')")
    states, info = build_bloom_states(df, col, cfg, n_shards, partitions, expected_keys,
                                      checkpoint_dir, input_id, enforce_key_limit)
    blobs = [row[0] for row in states.select("state").collect()]
    if not blobs:
        return BloomFilterState.empty(cfg, info["n_shards"], info["m0"])
    return BloomFilterState.from_blobs(blobs)


def merge_blobs(a: bytes, b: bytes) -> bytes:
    """Fold both blobs (:meth:`~BloomFilterState.from_blobs`), serialise."""
    return BloomFilterState.from_blobs([a, b]).to_bytes()


# ====================================================================
# membership queries
# ====================================================================

# single-slot worker-side cache: (key, state). One slot, not a dict — each
# with_membership call pins a filter-sized object in every reused Python
# worker, so unbounded growth would OOM workers across repeated calls.
_BC_CACHE: list = [None, None]
_BC_SEQ = [0]  # driver-side counter for cache keys (Broadcast has no .id in PySpark 4)


def with_membership(df: DataFrame, col: str, state: BloomFilterState,
                    out: str = "is_member") -> DataFrame:
    """Append a boolean membership column — broadcast-filter mode.

    Hashes are computed JVM-side; the pandas UDF does only numpy index math
    against the broadcast blob (deserialized once per worker).  Zero false
    negatives by construction *among guarded keys*: the build drops keys
    over ``cfg.max_key_bytes`` (the documented 1 MB cap), so an oversize key
    that exists in the source probes as not-member — treat rejection as
    "guaranteed absent" only for keys within the cap (pre-filter probes with
    :func:`sparksketch.webtext.enforce_key_limit` when in doubt).  False
    positives ≤ the configured bound.

    Cost model: the first probe batch in each Python worker fetches the
    broadcast blob and decodes it into the filter's tables, one copy of the
    bits (the fetch dominates — measured ~60 s total for 128 MiB × 32 local
    workers, then cached in the single worker slot).  Every batch is then
    one flat gather per tier and level index, at the same cost per key for
    uniform, mixed-depth and strict filters.  For filters beyond ~100 MiB
    probed once, or too big for worker memory, prefer
    :func:`membership_join`, which never replicates the filter."""
    hcols = hash_probe_cols(F.col(col).cast("string"))
    return df.withColumn(out, _membership_probe_udf(df.sparkSession, state)(*hcols))


def _broadcast_cached(spark, value, deserialize):
    """Ship ``value`` once and return ``load()``, which gives
    ``deserialize(value)`` on a worker, decoded once per Python worker
    (:func:`_worker_cached`).  The one cache of every broadcast probe."""
    bc = spark.sparkContext.broadcast(value)
    _BC_SEQ[0] += 1
    return functools.partial(_worker_cached, _BC_SEQ[0], bc, deserialize)


def _worker_cached(bc_key: int, bc, deserialize):
    """Decoded ``bc`` from the worker's single slot, keyed by a driver-side
    sequence (Broadcast has no ``.id`` in PySpark 4).  Module level, so
    cloudpickle ships it by reference and it reads the worker's own
    ``_BC_CACHE``; a closure would ship a copy of the slot with each task."""
    if _BC_CACHE[0] != bc_key:
        _BC_CACHE[:] = [None, None]  # free the old filter before decoding the new one
        _BC_CACHE[:] = [bc_key, deserialize(bc.value)]
    return _BC_CACHE[1]


def broadcast_probe_udf(spark, blob: bytes, deserialize):
    """Generic broadcast-probe pandas UDF over two base-hash columns: ship
    ``blob`` once, deserialize it through the worker cache
    (:func:`_broadcast_cached`), then call ``.contains_hashes(h1_i64,
    h2_i64)`` per batch.  Shared by the Bloom and counting-Bloom probes so
    cache/null-handling fixes land in one place."""
    load = _broadcast_cached(spark, blob, deserialize)

    @F.pandas_udf("boolean")
    def probe(ha, hb):
        import pandas as pd
        return pd.Series(load().contains_hashes(
            ha.to_numpy(dtype=np.int64, na_value=0),
            hb.to_numpy(dtype=np.int64, na_value=0)))

    return probe


def _membership_probe_udf(spark, state: BloomFilterState):
    """The Bloom broadcast probe.  Membership is a pure function of
    (h1, h2) — callers that have already computed the hash columns (e.g.
    to dedup probes) can apply this directly without rehashing."""
    return broadcast_probe_udf(spark, state.to_bytes(), _decode_state)


def _decode_state(blob: bytes) -> BloomFilterState:
    """:meth:`BloomFilterState.from_bytes` as a module-level function: the
    probe UDF's decoder.  cloudpickle ships a module function by reference,
    whereas a bound classmethod goes by value, with every module global its
    code reads (one unpicklable global would break every broadcast probe)."""
    return BloomFilterState.from_bytes(blob)


def _decode_group_states(blobs: dict) -> dict:
    """{group: blob} → {group: state}: the group probe's decoder (module
    level for the same reason as :func:`_decode_state`)."""
    return {grp: BloomFilterState.from_bytes(b) for grp, b in blobs.items()}


def with_group_membership(df: DataFrame, group_col: str, col: str, states,
                          out: str = "is_member",
                          max_groups: int = 100_000) -> DataFrame:
    """Append per-group membership: each row is probed against ITS group's
    filter (the output of :func:`bloom_by_group`).  Broadcast of the
    (group → blob) map — group filters are blob-sized, so the map is
    broadcastable whenever per-group sketching makes sense at all; rows and
    hashes stay distributed (no driver loop over data rows).

    ``states`` is the (group, state) DataFrame from :func:`bloom_by_group`
    or an equivalent ``{group: blob}`` dict.  The blob map is collected to
    the driver, so the group cardinality is gated at ``max_groups``
    (mirroring :func:`~sparksketch.similarity.knn_join`'s ``max_queries``):
    a million-group build would OOM the driver/broadcast — beyond the gate
    the distributed :func:`membership_join` path is the answer."""
    if isinstance(states, DataFrame):
        states = dict(states.select("group", "state").limit(max_groups + 1).collect())
    if len(states) > max_groups:
        raise ValueError(
            f"with_group_membership broadcasts the (group -> blob) map; got more than "
            f"max_groups={max_groups} groups - use membership_join for group cardinalities "
            f"this large, or raise max_groups if the blobs are known-small")
    blobs = {g: bytes(b) for g, b in states.items()}
    load = _broadcast_cached(df.sparkSession, blobs, _decode_group_states)

    @F.pandas_udf("boolean")
    def probe(g, ha, hb):
        import pandas as pd
        cached = load()
        ga = g.to_numpy(dtype=object, na_value=None)
        h1 = ha.to_numpy(dtype=np.int64, na_value=0)
        h2 = hb.to_numpy(dtype=np.int64, na_value=0)
        result = np.zeros(len(ga), dtype=bool)
        for grp in pd.unique(ga):
            st = cached.get(grp)
            if st is not None:
                mask = ga == grp
                result[mask] = st.contains_hashes(h1[mask], h2[mask])
        return pd.Series(result)

    hcols = hash_probe_cols(F.col(col).cast("string"))
    return df.withColumn(out, probe(F.col(group_col).cast("string"), *hcols))


def blob_geometry(blob: bytes) -> tuple[int, int, bool]:
    """(tiers, n_shards, strict) from a validated state blob header — lets
    consumers of a persisted filter table avoid hard-coding geometry."""
    tiers, n_shards, _n, _thr, _rehash, strict, _m0 = _parse_header(blob)
    return tiers, n_shards, strict


def membership_join(probes: DataFrame, col: str, states: DataFrame,
                    tiers: int | None = None, n_shards: int | None = None,
                    out: str = "is_member", strict: bool | None = None) -> DataFrame:
    """Distributed membership for filters too big to broadcast.

    ``states`` is the output of :func:`build_bloom_states` (or the same
    re-read from parquet).  Probes gain shard + hash columns (JVM), then an
    equi-join on shard id co-locates each probe with exactly the shard blobs
    it needs; an Arrow kernel decodes each batch's distinct shard blobs into
    one filter (:meth:`~BloomFilterState.from_blobs`) and probes the whole
    batch in one call.  Shuffle cost: probes ~40 B/row + the shard states
    once.  Same oversize-key caveat as :func:`with_membership`: zero FN
    holds among keys within the build's ``max_key_bytes`` guard."""
    if tiers is None or n_shards is None or strict is None:
        # geometry unknown → read one blob header; pass all THREE of
        # (tiers, n_shards, strict) to skip this extra evaluation of the
        # states plan (it would re-run an uncached distributed build)
        first = states.select("state").first()
        if first is None:
            return probes.withColumn(out, F.lit(False))
        blob_tiers, blob_shards, blob_strict = blob_geometry(bytes(first[0]))
        tiers = blob_tiers if tiers is None else tiers
        n_shards = blob_shards if n_shards is None else n_shards
        strict = blob_strict if strict is None else strict
    probe_cols = [f.name for f in probes.schema.fields]
    reserved = {"_skh_a", "_skh_b", "_sktier", _ROUTE, "shard", "state", "rows"}
    clash = reserved & set(probe_cols)
    if clash:
        raise ValueError(f"probe columns clash with reserved names: {sorted(clash)}")
    hcols = hash_probe_cols(F.col(col).cast("string"))
    if strict:
        return _membership_join_strict(probes, states, tiers, n_shards, hcols,
                                       probe_cols, out)
    # all probe columns ride through the kernel — evaluating `probes` exactly
    # once (a row-id + re-join design would evaluate it twice, and
    # monotonically_increasing_id is not stable across re-evaluations of a
    # shuffled plan, silently mislabelling rows)
    hashed = probes.select("*", *hcols).withColumn(_ROUTE, route_expr(n_shards))
    joined = _join_shard_blobs(hashed, states)

    def check(batches):
        for batch in batches:
            st = _joined_state(batch)
            result = (np.zeros(batch.num_rows, dtype=bool) if st is None else
                      st.contains_hashes(_column(batch, "_skh_a"), _column(batch, "_skh_b")))
            passthrough = [batch.column(c) for c in probe_cols]
            yield pa.RecordBatch.from_arrays(
                [*passthrough, pa.array(result, pa.bool_())],
                names=[*probe_cols, out],
            )

    out_schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in probes.schema.fields)
    return joined.mapInArrow(check, f"{out_schema}, `{out}` boolean")


def _membership_join_strict(probes: DataFrame, states: DataFrame, tiers: int,
                            n_shards: int, hcols, probe_cols, out: str) -> DataFrame:
    """Distributed membership for STRICT filters: a probe must pass both
    shards of both tiers, which live on 4 different state rows — so probes
    dedupe to distinct (h1, h2) pairs, explode to their 4 (shard, tier)
    checks, equi-join the shard states, AND-reduce per hash pair, and the
    16-B flags join back onto the probe rows.  Shuffle cost: distinct keys
    ×4 ×~28 B + states once + probes once more for the flag join.

    Note: unlike the default path, the flag join evaluates ``probes`` twice;
    keys are matched by their own hashes so this is safe for any
    deterministic probe plan (a nondeterministically-sampled probe side
    should be materialized first)."""
    hashed = probes.select("*", *hcols)
    keys = hashed.select("_skh_a", "_skh_b").distinct()
    exploded = (keys.select("_skh_a", "_skh_b",
                            F.explode(strict_targets(n_shards)).alias("_tgt"))
                .select("_skh_a", "_skh_b",
                        F.col("_tgt.t").alias("_sktier"),
                        F.col("_tgt.s").alias(_ROUTE)))
    joined = _join_shard_blobs(exploded, states)

    def check(batches):
        for batch in batches:
            result = np.zeros(batch.num_rows, dtype=bool)
            st = _joined_state(batch)
            if st is not None:
                shard, tier = _column(batch, _ROUTE), _column(batch, "_sktier")
                h1, h2 = _column(batch, "_skh_a"), _column(batch, "_skh_b")
                for t in range(tiers):  # each row checks one (shard, tier)
                    rows = np.flatnonzero(tier == t)
                    th1, th2 = tier_hashes(h1[rows], h2[rows], t)
                    result[rows] = st._probe_tier(t, shard[rows], th1, th2,
                                                  np.ones(rows.size, dtype=bool))
            yield pa.RecordBatch.from_arrays(
                [batch.column("_skh_a"), batch.column("_skh_b"),
                 pa.array(result, pa.bool_())],
                names=["_skh_a", "_skh_b", "_ok"],
            )

    checks = joined.mapInArrow(check, "_skh_a long, _skh_b long, _ok boolean")
    flags = checks.groupBy("_skh_a", "_skh_b").agg(F.bool_and("_ok").alias(out))
    return (hashed.join(flags, ["_skh_a", "_skh_b"], "left")
            .select(*probe_cols, F.coalesce(F.col(out), F.lit(False)).alias(out)))


def _join_shard_blobs(probes: DataFrame, states: DataFrame) -> DataFrame:
    """``probes`` left-joined to the list of their shard's state blobs
    (several rows per shard when states are partial)."""
    blobs = states.groupBy("shard").agg(F.collect_list("state").alias("state"))
    return probes.join(blobs, probes[_ROUTE] == blobs["shard"], "left")


def _joined_state(batch: pa.RecordBatch) -> BloomFilterState | None:
    """The filter of the distinct shards' blob lists in a batch of probe
    rows joined to them (:func:`_join_shard_blobs`), or None if no row found a
    state.  Rows whose shard it lacks probe False."""
    lists = batch.column("state")
    valid = np.flatnonzero(pc.is_valid(lists).to_numpy(zero_copy_only=False))
    if not valid.size:
        return None
    _, first = np.unique(_column(batch, _ROUTE)[valid], return_index=True)
    return BloomFilterState.from_blobs(pc.list_flatten(lists.take(valid[first])).to_pylist())


# ====================================================================
# per-group filters (the "group-by sketches" row of SURVEY.md §2.2)
# ====================================================================

class GroupBloom:
    """A single-shard cascading filter (``state``) built in memory by
    arrival-order inserts (:meth:`update_hashes`).  A :func:`bloom_by_group`
    blob decodes with :meth:`BloomFilterState.from_bytes`."""

    def __init__(self, cfg: BloomConfig | None = None, m0: int | None = None):
        cfg = cfg or BloomConfig()
        _refuse_strict_groups(cfg)
        self.state = BloomFilterState(cfg.tiers, 1, m0 or cfg.m0, cfg.threshold, cfg.rehash)

    def update_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        for t, (a, b) in enumerate(derive_tier_hashes(h1, h2, self.state.tiers)):
            _insert_arrivals(self.state, 0, t, a, b)


def _refuse_strict_groups(cfg: BloomConfig) -> None:
    if cfg.strict_parity:  # its 2 shards per tier need n_shards >= 4
        raise ValueError("strict_parity is incompatible with per-group "
                         "filters (single-shard); use build_bloom for "
                         "reference-parity filters")


def _group_partition_fn(cfg: BloomConfig, m0: int):
    """The per-group build kernel over a task's rows sorted by (group, h1,
    h2): each group's run, which may span batches, fills a fresh 1-shard
    filter (:func:`_insert_sorted`), emitted when the run ends."""

    def runs(batches):
        name = st = count = last = None
        for batch in batches:
            if not batch.num_rows:
                continue
            g = batch.column("_g")
            h1, h2 = _column(batch, "_skh_a"), _column(batch, "_skh_b")
            starts = [0, *(np.flatnonzero(pc.not_equal(g[1:], g[:-1]).to_numpy(
                zero_copy_only=False)) + 1).tolist()]
            for lo, hi, grp in zip(starts, [*starts[1:], batch.num_rows],
                                   g.take(starts).to_pylist()):
                if grp != name:  # never None: null groups are dropped
                    if st is not None:
                        yield name, st.to_bytes()
                    name, st = grp, BloomFilterState(cfg.tiers, 1, m0, cfg.threshold, cfg.rehash)
                    count, last = np.zeros(1, dtype=np.int64), None
                one = np.zeros(hi - lo, dtype=np.int64)  # the rank group and the shard
                last = _insert_sorted(st, one, one, None, h1[lo:hi], h2[lo:hi], count, last)
        if st is not None:
            yield name, st.to_bytes()

    return lambda batches: _blob_batches(runs(batches), {"group": pa.string(),
                                                         "state": pa.binary()})


def bloom_by_group(df: DataFrame, group_col: str, col: str,
                   cfg: BloomConfig = BloomConfig(),
                   expected_keys_per_group: int | None = None) -> DataFrame:
    """Per-group Bloom filters → DataFrame (group string, state binary).

    Built like :func:`build_bloom_states` with the group as the shard:
    (group, h1, h2) rows without a null group or key shuffle on the group
    and sort, and one kernel per task builds its groups
    (:func:`_group_partition_fn`).  A group's filter is a function of its
    distinct keys: the bytes of ``build_bloom(<its rows>, col, cfg,
    n_shards=1, expected_keys=expected_keys_per_group,
    enforce_key_limit=False)``.  A hot group's rows all go through one task."""
    _refuse_strict_groups(cfg)
    m0 = resolve_m0(cfg, 1, expected_keys_per_group)
    rows = (df.filter(F.col(group_col).isNotNull() & F.col(col).isNotNull())
            .select(F.col(group_col).cast("string").alias("_g"),
                    *hash_probe_cols(F.col(col).cast("string"))))
    routed = rows.repartition("_g").sortWithinPartitions("_g", "_skh_a", "_skh_b")
    return routed.mapInArrow(_group_partition_fn(cfg, m0), "group string, state binary")


def compact_bloom(df: DataFrame, col: str, state: BloomFilterState,
                  cfg: BloomConfig = BloomConfig(), slack: float = 1.25,
                  **build_kwargs) -> BloomFilterState:
    """Offline compaction — the distributed analogue of the reference's
    rehash-to-2m rebuild (filter.rs:227-274, 490-524): instead of replaying
    a per-shard WAL, re-aggregate the *source table* (the immutable input is
    the key log) at a geometry sized for the observed key count, so the new
    filter has a single right-sized level per shard-tier and no overflowed
    levels.  Run it when ``state.overflowed_levels()`` is non-empty after
    merging many builds."""
    expected = int(state.key_count * slack) or None
    return build_bloom(df, col, cfg, expected_keys=expected,
                       n_shards=state.n_shards, **build_kwargs)
