"""Reference-guarantee tests for the cascading Bloom filter (SURVEY.md §5.2).

Ports the semantics of /root/reference/tests/sync_test.rs:24-68 to the
distributed build: zero false negatives over every inserted key, observed
FPR ≤ the configured bound on a disjoint probe set, plus the merge laws the
north rule requires (associativity/commutativity via shuffled merge order).
All data and seeds are fixed → tests are fully deterministic.
"""

import random

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sparksketch.bloom import (
    BloomFilterState,
    Level,
    _insert_arrivals,
    build_bloom,
    build_bloom_states,
    hash_probe_cols,
    membership_join,
    merge_blobs,
    resolve_m0,
    route_expr,
    with_group_membership,
    with_membership,
)
from sparksketch.config import Accuracy, BloomConfig, InitialCapacity, Throughput, expected_n, optimal_k
from sparksketch.hashing import (
    HASH_SEED_SELECTION,
    derive_shard,
    derive_tier_hashes,
    km_indices,
    set_bits,
    spark_xxhash64,
)
from sparksketch.hashing import test_bits as check_bits

N_KEYS = 20_000
N_SHARDS = 64
PARTS = 8


def _keys_df(spark, start, end):
    # decimal string keys, mirroring sync_test.rs:46-48 (i.to_string())
    return spark.range(start, end).select(F.col("id").cast("string").alias("key"))


@pytest.fixture(scope="module")
def built(spark):
    df = _keys_df(spark, 0, N_KEYS)
    cfg = BloomConfig(accuracy=Accuracy.HIGH)
    state = build_bloom(df, "key", cfg, n_shards=N_SHARDS, partitions=PARTS)
    return cfg, state


# ---------------- geometry parity (reference formulas) ----------------

def test_knob_resolution():
    assert Throughput.LOW.shards == 2**11 and Throughput.MEDIUM.shards == 2**12 and Throughput.HIGH.shards == 2**13
    assert InitialCapacity.VERY_HIGH.m0 == 2**15
    assert Accuracy.LOW.threshold == 12.0 and Accuracy.MEDIUM.threshold == 15.0 and Accuracy.HIGH.threshold == 19.0


def test_level_geometry():
    cfg = BloomConfig()
    assert cfg.m0 == 4096 and cfg.threshold == 15.0
    # k = round((m/n)·ln2) per filter.rs:381-383; at the threshold boundary
    # k = 8 / 10 / 13 for accuracy Low/Medium/High (SURVEY.md §1.3)
    assert cfg.level_k(0) == 10
    assert BloomConfig(accuracy=Accuracy.LOW).level_k(0) == 8
    assert BloomConfig(accuracy=Accuracy.HIGH).level_k(0) == 13
    assert cfg.level_m(3) == 4096 * 8
    assert expected_n(4096, 15.0) == 273
    assert optimal_k(4096, 273) == 10


def test_resolve_m0_from_hint():
    cfg = BloomConfig()
    m0 = resolve_m0(cfg, n_shards=64, expected_keys=1_000_000)
    # per-shard 15625 keys × 15 bits/key = 234375 → next pow2 = 2^18
    assert m0 == 2**18
    assert resolve_m0(cfg, 64, None) == cfg.m0
    assert resolve_m0(cfg, 64, 10) == cfg.m0  # never below configured m0


# ---------------- reference guarantees ----------------

def test_zero_false_negatives(spark, built):
    cfg, state = built
    df = _keys_df(spark, 0, N_KEYS)
    flagged = with_membership(df, "key", state)
    misses = flagged.filter(~F.col("is_member")).count()
    assert misses == 0  # sync_test.rs:60-66 analogue


def test_fpr_within_configured_bound(spark, built):
    cfg, state = built
    probes = _keys_df(spark, N_KEYS, 2 * N_KEYS)  # disjoint range
    fp = with_membership(probes, "key", state).filter(F.col("is_member")).count()
    bound = state.configured_fpr_bound()
    # deterministic dataset: with Accuracy.HIGH the expected FP count is ≪ 1
    assert fp / N_KEYS <= max(bound, 1e-9), f"observed fpr {fp / N_KEYS} > bound {bound}"
    assert state.fpr_bound() <= state.configured_fpr_bound() * 1.5


def test_driver_contains_matches_distributed(spark, built):
    _, state = built
    for key in ["0", "1", "19999", "5000"]:
        assert state.contains(key)
    absent = [str(x) for x in range(N_KEYS, N_KEYS + 200)]
    assert sum(state.contains(a) for a in absent) == 0


def test_key_count_and_size(built):
    _, state = built
    assert state.key_count == N_KEYS
    assert state.bit_size > 0
    assert not state.overflowed_levels()


# ---------------- merge laws (north rule) ----------------

def test_merge_associative_commutative_shuffled(spark):
    df = _keys_df(spark, 0, 5000)
    states, info = build_bloom_states(df, "key", BloomConfig(), n_shards=16, partitions=PARTS)
    blobs = [bytes(r.state) for r in states.collect()]
    assert len(blobs) == 16

    def fold(order):
        acc = blobs[order[0]]
        for i in order[1:]:
            acc = merge_blobs(acc, blobs[i])
        return acc

    base = fold(list(range(len(blobs))))
    rng = random.Random(42)
    for _ in range(5):
        order = list(range(len(blobs)))
        rng.shuffle(order)
        assert fold(order) == base  # byte-identical under any merge order

    # tree-shaped vs linear fold
    def tree(items):
        if len(items) == 1:
            return items[0]
        mid = len(items) // 2
        return merge_blobs(tree(items[:mid]), tree(items[mid:]))

    assert tree(blobs) == base


def test_merge_two_builds_unions_keys(spark):
    cfg = BloomConfig()
    a = build_bloom(_keys_df(spark, 0, 3000), "key", cfg, n_shards=16, partitions=4)
    b = build_bloom(_keys_df(spark, 3000, 6000), "key", cfg, n_shards=16, partitions=4)
    u = a.merge(b)
    assert u.key_count == 6000
    for k in ["0", "2999", "3000", "5999"]:
        assert u.contains(k)
    assert BloomFilterState.from_bytes(u.to_bytes()).contains("4242")


def test_merge_rejects_geometry_mismatch(spark):
    a = build_bloom(_keys_df(spark, 0, 100), "key", BloomConfig(), n_shards=8, partitions=2)
    b = build_bloom(_keys_df(spark, 0, 100), "key", BloomConfig(accuracy=Accuracy.HIGH), n_shards=8, partitions=2)
    with pytest.raises(ValueError):
        a.merge(b)


def _multi_level_keys(spark, strict: bool):
    """The default 4096 shards with multi-level shard-tiers: a config with
    107 keys per level 0 (InitialCapacity.LOW + Accuracy.HIGH) and keys over
    every shard, plus ~240 keys in each of shards 0..7 (by the build's own
    routing hash), past level 0's capacity.  The keys come cached."""
    cfg = BloomConfig(initial_capacity=InitialCapacity.LOW, accuracy=Accuracy.HIGH,
                      strict_parity=strict)
    assert cfg.shards == 4096 and expected_n(cfg.m0, cfg.threshold) == 107
    hot = (_keys_df(spark, 20_000, 1_000_000).select("key", *hash_probe_cols("key"))
           .where(route_expr(cfg.shards) < 8).select("key"))
    return cfg, _keys_df(spark, 0, 20_000).union(hot).cache()


@pytest.mark.parametrize("strict", [False, True])
def test_merge_law_default_shards_multi_level(spark, strict):
    """The merge laws at the default 4096 shards with multi-level
    shard-tiers: the build's fold equals a shuffled-order fold of the
    per-shard blobs, and merge='driver' is the same fold."""
    cfg, df = _multi_level_keys(spark, strict)
    state = build_bloom(df, "key", cfg, partitions=4)
    assert max(len(t) for c in state.shards.values() for t in c) >= 2
    assert with_membership(df, "key", state).filter(~F.col("is_member")).count() == 0
    blob = state.to_bytes()

    states, _ = build_bloom_states(df, "key", cfg, partitions=4)
    blobs = [bytes(r.state) for r in states.collect()]
    rng = random.Random(7)
    for _ in range(2):
        rng.shuffle(blobs)
        acc = BloomFilterState.from_bytes(blobs[0])
        for b in blobs[1:]:
            acc.merge(BloomFilterState.from_bytes(b))
        assert acc.to_bytes() == blob

    assert build_bloom(df, "key", cfg, partitions=4, merge="driver").to_bytes() == blob
    with pytest.raises(ValueError):
        build_bloom(df, "key", cfg, partitions=4, merge="tree")
    df.unpersist()


@pytest.mark.parametrize("strict", [False, True])
def test_build_is_a_function_of_the_distinct_keys(spark, strict):
    """At 4096 shards with multi-level shard-tiers, shuffled rows, another
    input partitioning and every key twice all build the same bytes, and
    key_count is the distinct count."""
    cfg, df = _multi_level_keys(spark, strict)
    n = df.count()
    state = build_bloom(df, "key", cfg, partitions=4)
    assert max(len(t) for c in state.shards.values() for t in c) >= 2
    assert state.key_count == n
    for variant in (df.orderBy(F.rand(11)), df.repartition(3), df.union(df)):
        again = build_bloom(variant, "key", cfg, partitions=4)
        assert again.to_bytes() == state.to_bytes()
        assert again.key_count == n
    df.unpersist()


@pytest.mark.parametrize("strict", [False, True])
def test_membership_join_merges_partial_state_rows(spark, strict):
    """A states table with two rows per shard (two builds over disjoint key
    ranges) probes exactly like the driver-merged filter, for inserted and
    absent keys alike."""
    cfg = BloomConfig(strict_parity=strict)
    sa, _ = build_bloom_states(_keys_df(spark, 0, 3000), "key", cfg, n_shards=16, partitions=4)
    sb, _ = build_bloom_states(_keys_df(spark, 3000, 6000), "key", cfg, n_shards=16, partitions=4)
    union = sa.union(sb).cache()
    rows = union.collect()
    assert len(rows) > len({r.shard for r in rows})  # several rows per shard

    def fold(states):
        acc = BloomFilterState.empty(cfg, 16)
        for r in states.collect():
            acc.merge(BloomFilterState.from_bytes(r.state))
        return acc

    merged = fold(sa).merge(fold(sb))
    probes = _keys_df(spark, 0, 9000)  # 0..5999 inserted, 6000..8999 absent
    via_join = {r.key: r.is_member for r in membership_join(probes, "key", union).collect()}
    via_bc = {r.key: r.is_member for r in with_membership(probes, "key", merged).collect()}
    assert len(via_join) == 9000
    assert via_join == via_bc
    assert all(via_join[str(k)] for k in range(6000))
    union.unpersist()


# ---------------- cascade growth / rehash semantics ----------------

def test_cascade_opens_levels(spark):
    # 5000 keys into 4 shards: ~1250/shard vs level-0 capacity 273 → growth
    state = build_bloom(_keys_df(spark, 0, 5000), "key", BloomConfig(), n_shards=4, partitions=2)
    depths = [len(t) for c in state.shards.values() for t in c]
    assert max(depths) >= 2
    # deterministic geometry: level l has m = m0 << l
    for cascade in state.shards.values():
        for tier in cascade:
            for lv in tier:
                assert lv.m == state.m0 << lv.idx


def test_rehash_off_fixed_geometry(spark):
    # rehash=False → single level absorbs everything; overflow flagged
    state = build_bloom(_keys_df(spark, 0, 5000), "key", BloomConfig(rehash=False), n_shards=4, partitions=2)
    for cascade in state.shards.values():
        for tier in cascade:
            assert len(tier) == 1
    assert state.overflowed_levels()
    # zero FN still holds even when overfull
    df = _keys_df(spark, 0, 5000)
    assert with_membership(df, "key", state).filter(~F.col("is_member")).count() == 0


def test_expected_keys_hint_single_level(spark):
    state = build_bloom(_keys_df(spark, 0, 20000), "key", BloomConfig(), n_shards=8,
                        partitions=4, expected_keys=20000)
    for cascade in state.shards.values():
        for tier in cascade:
            assert len(tier) == 1


# ---------------- key guard ----------------

def test_max_key_guard(spark):
    big = "x" * (2**20 + 1)
    df = spark.createDataFrame([("small",), (big,)], "key string")
    state = build_bloom(df, "key", BloomConfig(), n_shards=4, partitions=2)
    assert state.contains("small")
    assert not state.contains(big)
    assert state.key_count == 1


# ---------------- distributed membership join ----------------

def test_membership_join_matches_broadcast(spark):
    cfg = BloomConfig()
    df = _keys_df(spark, 0, 4000)
    states, info = build_bloom_states(df, "key", cfg, n_shards=16, partitions=4)
    states = states.cache()
    state = BloomFilterState.from_bytes(
        states.select("state").rdd.map(lambda r: bytes(r[0])).reduce(merge_blobs)
    )
    probes = _keys_df(spark, 3000, 8000)
    via_join = membership_join(probes, "key", states, cfg.tiers, 16)
    via_bc = with_membership(probes, "key", state)
    a = {r.key: r.is_member for r in via_join.collect()}
    b = {r.key: r.is_member for r in via_bc.collect()}
    assert a == b
    assert all(a[str(k)] for k in range(3000, 4000))  # inserted range all present


def test_filter_persists_as_table(spark, tmp_path):
    """The at-scale product: the filter is a DataFrame — write it as parquet,
    re-read, and answer membership via the distributed join. No driver
    collection of the filter anywhere."""
    cfg = BloomConfig()
    df = _keys_df(spark, 0, 3000)
    states, info = build_bloom_states(df, "key", cfg, n_shards=16, partitions=4)
    path = str(tmp_path / "filter_table")
    states.write.parquet(path)
    reloaded = spark.read.parquet(path)
    assert reloaded.count() == 16
    probes = _keys_df(spark, 2000, 5000)
    flags = membership_join(probes, "key", reloaded, cfg.tiers, 16)
    got = {r.key: r.is_member for r in flags.collect()}
    assert all(got[str(k)] for k in range(2000, 3000))   # present: zero FN
    fps = sum(got[str(k)] for k in range(3000, 5000))
    assert fps <= 2  # deterministic; expected ~0 at the configured bound


def test_compaction_clears_overflow(spark):
    from sparksketch.bloom import compact_bloom
    df = _keys_df(spark, 0, 10_000)
    # force overflow: fixed geometry, tiny m0, no growth
    cfg = BloomConfig(rehash=False)
    state = build_bloom(df, "key", cfg, n_shards=4, partitions=2)
    assert state.overflowed_levels()
    compacted = compact_bloom(df, "key", state, BloomConfig(), partitions=2)
    assert not compacted.overflowed_levels()
    assert compacted.key_count == 10_000
    flagged = with_membership(df, "key", compacted)
    assert flagged.filter(~F.col("is_member")).count() == 0
    # compacted filter is right-sized: one level per shard-tier
    for cascade in compacted.shards.values():
        for tier in cascade:
            assert len(tier) == 1


def test_tiers_one_and_three(spark):
    """The reference plans cascade_tiers 1..3 (config.rs:9, the commented-out
    Harbinger tier filter.rs:455); all three tier counts must build + query."""
    for tiers in (1, 3):
        cfg = BloomConfig(tiers=tiers)
        state = build_bloom(_keys_df(spark, 0, 3000), "key", cfg, n_shards=8, partitions=4)
        assert state.tiers == tiers
        flagged = with_membership(_keys_df(spark, 0, 3000), "key", state)
        assert flagged.filter(~F.col("is_member")).count() == 0
        # more tiers → tighter bound
    b1 = build_bloom(_keys_df(spark, 0, 3000), "key", BloomConfig(tiers=1), n_shards=8, partitions=4)
    b3 = build_bloom(_keys_df(spark, 0, 3000), "key", BloomConfig(tiers=3), n_shards=8, partitions=4)
    assert b3.fpr_bound() < b1.fpr_bound()
    with pytest.raises(ValueError):
        BloomConfig(tiers=4)


def test_membership_join_derives_geometry(spark):
    df = _keys_df(spark, 0, 2000)
    states, _ = build_bloom_states(df, "key", BloomConfig(), n_shards=16, partitions=4)
    states = states.cache()
    probes = _keys_df(spark, 1000, 3000)
    flags = membership_join(probes, "key", states)  # no tiers/n_shards passed
    got = {r.key: r.is_member for r in flags.collect()}
    assert all(got[str(k)] for k in range(1000, 2000))
    assert sum(got[str(k)] for k in range(2000, 3000)) <= 2


def test_sync_port_200k(spark):
    """The FIXTURES.md §2 reference-parity port of sync_test at CI scale:
    200k decimal-string keys (sync_test.rs uses 100M sequentially; the
    semantics scale down, the guarantees don't). Medium/Medium/Medium like
    sync_test.rs:33-38."""
    n = 200_000
    cfg = BloomConfig()  # all-Medium defaults = the reference test config
    df = _keys_df(spark, 0, n)
    state = build_bloom(df, "key", cfg, n_shards=64, partitions=8, expected_keys=n)
    # zero false negatives over every inserted key (sync_test.rs:60-66)
    fn = with_membership(df, "key", state).filter(~F.col("is_member")).count()
    assert fn == 0
    # observed FPR on the disjoint range N..2N (sync_test.rs:49-55 analogue)
    probes = _keys_df(spark, n, 2 * n)
    fp = with_membership(probes, "key", state).filter(F.col("is_member")).count()
    assert fp / n <= state.configured_fpr_bound() + 1e-9, (fp, state.configured_fpr_bound())
    assert state.key_count == n


def _oracle_contains(state, h1, h2):
    """Scalar reference probe, one key at a time and independent of the
    tables' flat gather: per tier, OR over that tier's levels (the
    ``shards`` view) of ``check_bits`` on the level's own bits; AND over
    tiers, and in strict mode over both shards of each tier."""
    n, shards = state.n_shards, state.shards
    out = np.zeros(len(h1), dtype=bool)
    for i in range(len(h1)):
        a, b = h1[i:i + 1], h2[i:i + 1]
        routes = [int(derive_shard(a, n)[0]), int(derive_shard(b, n)[0])]
        member = True
        for t, (th1, th2) in enumerate(derive_tier_hashes(a, b, state.tiers)):
            sids = [routes[t], (routes[t] + (n - 1) // 2) % n] if state.strict else [routes[0]]
            for sid in sids:
                levels = shards[sid][t] if sid in shards else []
                member &= any(check_bits(lv.bits, km_indices(th1, th2, lv.k, lv.m))[0]
                              for lv in levels)
        out[i] = member
    return out


def _key_hashes(keys):
    """The two base hashes the build and the probe derive everything from."""
    return tuple(np.array([spark_xxhash64(str(k), seed) for k in keys], dtype=np.uint64)
                 .view(np.int64) for seed in HASH_SEED_SELECTION[:2])


def _assert_probe_matches_oracle(state, inserted, absent):
    """The flat probe of ``state`` and of its decoded blob equals the oracle
    on every key, and every inserted key is a member."""
    h1, h2 = _key_hashes(list(inserted) + list(absent))
    want = _oracle_contains(state, h1, h2)
    assert want[:len(inserted)].all()
    assert (state.contains_hashes(h1, h2) == want).all()
    decoded = BloomFilterState.from_bytes(state.to_bytes())
    assert (decoded.contains_hashes(h1, h2) == want).all()


@pytest.fixture(scope="module")
def strict_default_geometry(spark):
    """A strict filter at the default 4096 shards with multi-level
    shard-tiers (InitialCapacity.LOW + Accuracy.HIGH: 107 keys per level 0,
    ~240 keys routed to each of shards 0..7): its per-shard states table,
    its driver fold and the inserted keys."""
    cfg, df = _multi_level_keys(spark, True)
    states = build_bloom_states(df, "key", cfg, partitions=4)[0].cache()
    state = BloomFilterState.empty(cfg, cfg.shards)
    for r in states.collect():
        state.merge(BloomFilterState.from_bytes(r.state))
    assert state.n_shards == 4096
    assert max(len(t) for c in state.shards.values() for t in c) >= 2
    yield df, states, state, [r.key for r in df.collect()]
    states.unpersist()
    df.unpersist()


def test_flat_probe_equals_scalar_oracle(spark, strict_default_geometry):
    """One flat probe for every geometry: uniform, mixed level depths (a
    merge of partials), strict at 4096 shards with multi-level tiers, level
    indices that are not contiguous, and an empty filter."""
    cfg = BloomConfig()
    absent = [f"absent-{k}" for k in range(3000)]

    uniform = build_bloom(_keys_df(spark, 0, 4000), "key", cfg, n_shards=8,
                          partitions=4, expected_keys=4000)
    assert {len(t) for c in uniform.shards.values() for t in c} == {1}
    _assert_probe_matches_oracle(uniform, range(4000), absent)

    # ~275 keys per shard against level 0's 273: some shard-tiers open a
    # second level, some do not; the merged partial adds keys to both kinds
    mixed = build_bloom(_keys_df(spark, 0, 4400), "key", cfg, n_shards=16, partitions=4)
    mixed.merge(build_bloom(_keys_df(spark, 4400, 5000), "key", cfg, n_shards=16,
                            partitions=4))
    assert {len(t) for c in mixed.shards.values() for t in c} >= {1, 2}
    _assert_probe_matches_oracle(mixed, range(5000), absent)

    _, _, strict, keys = strict_default_geometry
    rng = random.Random(3)
    _assert_probe_matches_oracle(strict, rng.sample(keys, 4000), absent)

    # levels {0, 2} in every shard-tier: half the keys in each
    levels = {sid: [[Level.fresh(0, 64, cfg.threshold), Level.fresh(2, 64, cfg.threshold)]
                    for _ in range(cfg.tiers)] for sid in range(4)}
    inserted = [f"gap-{k}" for k in range(200)]
    h1, h2 = _key_hashes(inserted)
    for t, (th1, th2) in enumerate(derive_tier_hashes(h1, h2, cfg.tiers)):
        for i, sid in enumerate(derive_shard(h1, 4)):
            lv = levels[int(sid)][t][i % 2]
            set_bits(lv.bits, km_indices(th1[i:i + 1], th2[i:i + 1], lv.k, lv.m))
    gapped = BloomFilterState(cfg.tiers, 4, 64, cfg.threshold, cfg.rehash, levels)
    _assert_probe_matches_oracle(gapped, inserted, absent)

    empty = BloomFilterState.empty(cfg, 16)
    h1, h2 = _key_hashes(absent)
    assert not empty.contains_hashes(h1, h2).any()
    assert not _oracle_contains(empty, h1, h2).any()


def test_strict_membership_join_default_geometry(spark, strict_default_geometry):
    """Strict membership_join at 4096 shards with multi-level shard-tiers
    equals the broadcast probe on every inserted and absent key."""
    df, states, state, keys = strict_default_geometry
    absent = _keys_df(spark, 2_000_000, 2_010_000)
    probes = df.union(absent)
    via_join = {r.key: r.is_member for r in membership_join(probes, "key", states).collect()}
    via_bcast = {r.key: r.is_member for r in with_membership(probes, "key", state).collect()}
    assert len(via_join) == len(keys) + 10_000
    assert via_join == via_bcast
    assert all(via_join[k] for k in keys)


def _partial(n_keys: int, n_shards: int, strict: bool, seed: int):
    """A partial filter with tiny levels (m0=64: 4 keys per level 0) over
    ``n_keys`` random keys, inserted where a build would put them; returns
    it with the keys' base hashes."""
    cfg = BloomConfig()
    state = BloomFilterState(cfg.tiers, n_shards, 64, cfg.threshold, cfg.rehash, strict=strict)
    rng = np.random.default_rng(seed)
    h1, h2 = (rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, n_keys,
                           dtype=np.int64) for _ in range(2))
    routes = [derive_shard(h1, n_shards), derive_shard(h2, n_shards)]
    for t, (th1, th2) in enumerate(derive_tier_hashes(h1, h2, cfg.tiers)):
        targets = ([routes[t], (routes[t] + (n_shards - 1) // 2) % n_shards] if strict
                   else [routes[0]])
        for sids in targets:
            for sid in np.unique(sids):
                rows = sids == sid
                _insert_arrivals(state, int(sid), t, th1[rows], th2[rows])
    return state, h1, h2


@pytest.mark.parametrize("strict", [False, True])
@given(st.lists(st.tuples(st.integers(min_value=5, max_value=120),
                          st.integers(min_value=0, max_value=2**32)), min_size=1, max_size=4),
       st.sampled_from([4, 8]), st.randoms(use_true_random=False))
@settings(max_examples=15, deadline=None)
def test_probe_index_follows_merges_and_writes(strict, parts, n_shards, rnd):
    """Random merges of random partials probe exactly like the oracle after
    every merge (the shards and levels a merge adds are seen), and an
    in-place write to a decoded filter's Level.bits is seen by the next
    probe."""
    rng = np.random.default_rng(rnd.randrange(2**32))
    probe = [rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, 200, dtype=np.int64)
             for _ in range(2)]
    acc, ins1, ins2 = None, [], []
    for n_keys, seed in parts:
        part, h1, h2 = _partial(n_keys, n_shards, strict, seed)
        if rnd.random() < 0.5:
            part = BloomFilterState.from_bytes(part.to_bytes())
        acc = part if acc is None else acc.merge(part)
        ins1.append(h1)
        ins2.append(h2)
        p1, p2 = (np.concatenate([a, b]) for a, b in
                  zip(probe, (np.concatenate(ins1), np.concatenate(ins2))))
        got = acc.contains_hashes(p1, p2)
        assert (got == _oracle_contains(acc, p1, p2)).all()
        assert got[200:].all()

    decoded = BloomFilterState.from_bytes(acc.to_bytes())
    assert (decoded.contains_hashes(p1, p2) == got).all()
    levels = [lv for c in decoded.shards.values() for t in c for lv in t]
    for lv in rnd.sample(levels, min(3, len(levels))):
        lv.bits[:] = rnd.choice([0, 2**64 - 1])
    assert (decoded.contains_hashes(p1, p2) == _oracle_contains(decoded, p1, p2)).all()


def test_group_bloom_probe_sees_later_inserts():
    """A GroupBloom probed, then updated until it opens new levels, still
    finds every inserted key."""
    from sparksketch.bloom import GroupBloom

    g = GroupBloom(BloomConfig(), m0=64)
    rng = np.random.default_rng(5)
    h1, h2 = (rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, 200, dtype=np.int64)
              for _ in range(2))
    g.update_hashes(h1[:2], h2[:2])
    assert g.state.contains_hashes(h1[:2], h2[:2]).all()
    g.update_hashes(h1[2:], h2[2:])
    assert len(g.state.shards[0][0]) > 1
    assert g.state.contains_hashes(h1, h2).all()


def test_probe_decoders_pickle_by_reference(spark, monkeypatch):
    """The decoders the broadcast probes ship pickle by reference (a bound
    classmethod would go by value, with every global its code reads)."""
    from pyspark import cloudpickle

    from sparksketch import bloom
    from sparksketch.cbf import CountingBloom, with_cbf_membership

    shipped = []

    def fake_udf(spark, blob, deserialize):
        shipped.append((deserialize, blob))
        return lambda *cols: F.lit(True)

    monkeypatch.setattr(bloom, "broadcast_probe_udf", fake_udf)
    df = _keys_df(spark, 0, 10)
    with_membership(df, "key", BloomFilterState.empty(BloomConfig(), 4))
    with_cbf_membership(df, "key", CountingBloom(4, 1 << 10))
    assert len(shipped) == 2
    for decode, blob in shipped:
        assert cloudpickle.loads(cloudpickle.dumps(decode)) is decode
        assert decode(blob).to_bytes() == blob


@pytest.mark.parametrize("grouped", [False, True])
def test_broadcast_filter_decoded_once_per_worker(spark, monkeypatch, tmp_path, grouped):
    """with_membership and with_group_membership decode the broadcast
    filter once per Python worker, not once per task: a probe over 12
    partitions, run twice, logs each decode's worker pid, and no worker
    decodes twice."""
    from sparksketch import bloom

    log = tmp_path / "decodes"
    name = "_decode_group_states" if grouped else "_decode_state"
    decode = getattr(bloom, name)

    def counting(blob):
        import os
        with open(log, "a") as f:
            f.write(f"{os.getpid()}\n")
        return decode(blob)

    monkeypatch.setattr(bloom, name, counting)
    df = spark.range(0, 12_000, 1, 12).select(F.col("id").cast("string").alias("key"),
                                             F.lit("g").alias("g"))
    state = build_bloom(df, "key", BloomConfig(), n_shards=4, partitions=2)
    probed = (with_group_membership(df, "g", "key", {"g": state.to_bytes()}) if grouped
              else with_membership(df, "key", state))
    for _ in range(2):
        assert probed.agg(F.sum(F.col("is_member").cast("int"))).first()[0] == 12_000
    pids = log.read_text().split()
    assert pids and len(pids) == len(set(pids))


# ---------------- strict parity (2 shards per tier) ----------------

def test_strict_parity_zero_fn_and_fpr(spark):
    """Reference 4-shard-check shape (filter.rs:71-137): zero FN over every
    inserted key, and observed FPR on a disjoint probe set ≤ the squared
    per-tier bound (empirically ≤ the default mode's FPR)."""
    cfg = BloomConfig(strict_parity=True)
    df = _keys_df(spark, 0, N_KEYS)
    state = build_bloom(df, "key", cfg, n_shards=16, partitions=PARTS,
                        expected_keys=N_KEYS)
    assert state.strict
    assert state.key_count == N_KEYS  # per-key accounting despite 2x inserts
    flagged = with_membership(df, "key", state)
    assert flagged.filter(~F.col("is_member")).count() == 0
    absent = _keys_df(spark, 10 * N_KEYS, 10 * N_KEYS + 50_000)
    fp_strict = with_membership(absent, "key", state).filter("is_member").count()
    assert fp_strict / 50_000 <= state.configured_fpr_bound() * 3 + 1e-4
    # default mode on the same data: strict must not be worse
    base = build_bloom(df, "key", BloomConfig(), n_shards=16, partitions=PARTS,
                       expected_keys=N_KEYS)
    fp_base = with_membership(absent, "key", base).filter("is_member").count()
    assert fp_strict <= fp_base


def test_strict_parity_antipodal_shards(spark):
    """A single key's tier-0 bits land in exactly p1 = pmod(h1, n) and
    p2 = (p1 + mask/2) & mask — the reference's second-shard arithmetic
    (filter.rs:133-134)."""
    import numpy as np
    from sparksketch.hashing import HASH_SEED_SELECTION, spark_xxhash64
    n = 16
    cfg = BloomConfig(strict_parity=True)
    one = spark.createDataFrame([("lonely-key",)], "key string")
    state = build_bloom(one, "key", cfg, n_shards=n, partitions=2)
    h1 = np.array([spark_xxhash64("lonely-key", HASH_SEED_SELECTION[0])],
                  dtype=np.uint64).view(np.int64)
    h2 = np.array([spark_xxhash64("lonely-key", HASH_SEED_SELECTION[1])],
                  dtype=np.uint64).view(np.int64)
    p1_t0 = int(h1.astype(np.int64)[0] % n)
    p1_t1 = int(h2.astype(np.int64)[0] % n)
    off = (n - 1) // 2
    want = {(p1_t0, 0), ((p1_t0 + off) % n, 0), (p1_t1, 1), ((p1_t1 + off) % n, 1)}
    got = {(sid, t) for sid, cascade in state.shards.items()
           for t in range(2) for lv in cascade[t] if lv.n > 0}
    assert got == want
    assert state.contains("lonely-key")
    assert not state.contains("other-key")


def test_strict_parity_merge_and_serde(spark):
    cfg = BloomConfig(strict_parity=True)
    a = build_bloom(_keys_df(spark, 0, 3000), "key", cfg, n_shards=8, partitions=4)
    b = build_bloom(_keys_df(spark, 3000, 6000), "key", cfg, n_shards=8, partitions=4)
    m = a.merge(b)
    assert m.strict and m.key_count == 6000
    back = BloomFilterState.from_bytes(m.to_bytes())
    assert back.strict and back.to_bytes() == m.to_bytes()
    assert back.contains("0") and back.contains("5999") and not back.contains("6001")
    # strict and non-strict filters must never merge
    base = build_bloom(_keys_df(spark, 0, 3000), "key", BloomConfig(), n_shards=8, partitions=4)
    with pytest.raises(ValueError):
        m.merge(base)


def test_strict_parity_guards(spark):
    with pytest.raises(ValueError):
        BloomConfig(strict_parity=True, tiers=3)
    with pytest.raises(ValueError):
        build_bloom(_keys_df(spark, 0, 100), "key", BloomConfig(strict_parity=True),
                    n_shards=24, partitions=2)  # not a power of two


def test_strict_membership_join_matches_broadcast(spark):
    """The distributed strict probe (explode to 4 shard-tier checks,
    AND-reduce per hash pair) must agree with the broadcast probe on every
    row — inserted and absent keys alike."""
    cfg = BloomConfig(strict_parity=True)
    df = _keys_df(spark, 0, 5000)
    states, info = build_bloom_states(df, "key", cfg, n_shards=16, partitions=4,
                                      expected_keys=5000)
    states = states.cache()
    state = build_bloom(df, "key", cfg, n_shards=16, partitions=4, expected_keys=5000)
    probes = _keys_df(spark, 2500, 9000)  # half inserted, half absent
    via_join = {r.key: r.is_member for r in
                membership_join(probes, "key", states).collect()}
    via_bcast = {r.key: r.is_member for r in
                 with_membership(probes, "key", state).collect()}
    assert via_join == via_bcast
    assert all(via_join[str(k)] for k in range(2500, 5000))  # zero FN


def test_empty_input_builds_empty_filter(spark):
    empty = _keys_df(spark, 0, 0)
    for cfg in (BloomConfig(), BloomConfig(strict_parity=True)):
        state = build_bloom(empty, "key", cfg, n_shards=8, partitions=2)
        assert state.key_count == 0 and not state.shards
        assert state.strict == cfg.strict_parity
        probes = _keys_df(spark, 0, 100)
        assert with_membership(probes, "key", state).filter("is_member").count() == 0


def test_blob_version_gates_strict_flag(spark):
    """Strict blobs are stamped V3 so a pre-flags (v2) reader rejects them
    instead of silently probing with default routing (ADVICE r2); plain
    blobs stay V2; unknown flag bits are refused."""
    cfg = BloomConfig(strict_parity=True)
    strict = build_bloom(_keys_df(spark, 0, 500), "key", cfg, n_shards=8, partitions=4)
    blob = strict.to_bytes()
    assert blob[4] == 3  # version byte
    plain = build_bloom(_keys_df(spark, 0, 500), "key", BloomConfig(), n_shards=8, partitions=4)
    pblob = plain.to_bytes()
    assert pblob[4] == 2
    assert not BloomFilterState.from_bytes(pblob).strict
    assert BloomFilterState.from_bytes(blob).strict
    # v2 blob claiming flags => corrupt / skewed writer: refuse
    bad = bytearray(blob)
    bad[4] = 2
    with pytest.raises(ValueError):
        BloomFilterState.from_bytes(bytes(bad))
    # unknown future flag bit: refuse
    bad2 = bytearray(blob)
    bad2[7] |= 2  # flags byte (B B B B -> ver tiers rehash flags)
    with pytest.raises(ValueError):
        BloomFilterState.from_bytes(bytes(bad2))


def test_group_bloom_rejects_strict_parity(spark):
    from sparksketch.bloom import GroupBloom, bloom_by_group
    with pytest.raises(ValueError):
        GroupBloom(BloomConfig(strict_parity=True))
    df = _keys_df(spark, 0, 100).withColumn("g", F.lit("a"))
    with pytest.raises(ValueError):
        bloom_by_group(df, "g", "key", BloomConfig(strict_parity=True))


def test_estimate_distinct_from_fill(spark):
    """The filter doubles as a distinct-count sketch: fill-based estimate
    (Swamidass & Baldi) within a 15% band of exact over a duplicate-heavy
    stream, and merge-invariant (estimate of merged partials == estimate
    of a single build, byte-identical states)."""
    from sparksketch.bloom import BloomConfig, build_bloom
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet") \
        .filter("user_id IS NOT NULL")
    exact = ev.select("user_id").distinct().count()
    # 2x-insertions headroom keeps every cascade single-level, so the
    # split builds below fill the same single level as the full build
    cap = 2 * ev.count()
    st = build_bloom(ev, "user_id", BloomConfig(), n_shards=32, partitions=8,
                     expected_keys=cap)
    est = st.estimate_distinct()
    assert abs(est - exact) <= 0.15 * exact + 20
    # split-and-merge yields the identical bits, hence identical estimate
    a = build_bloom(ev.filter("event_id % 2 = 0"), "user_id", BloomConfig(),
                    n_shards=32, partitions=8, expected_keys=cap)
    b = build_bloom(ev.filter("event_id % 2 = 1"), "user_id", BloomConfig(),
                    n_shards=32, partitions=8, expected_keys=cap)
    assert a.merge(b).estimate_distinct() == st.estimate_distinct()
    # empty filter estimates zero
    from sparksketch.bloom import BloomFilterState
    assert BloomFilterState.empty(BloomConfig(), n_shards=4).estimate_distinct() == 0.0


def test_estimate_distinct_strict_mode(spark):
    """Strict-parity builds place every key in TWO tier-0 shards; the
    estimator must divide the aggregate fill back out (a silent 2x
    overestimate otherwise)."""
    from sparksketch.bloom import BloomConfig, build_bloom
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = docs.filter("text IS NOT NULL").select("text").distinct().count()
    st = build_bloom(docs, "text", BloomConfig(strict_parity=True),
                     n_shards=32, partitions=8, expected_keys=2 * exact)
    est = st.estimate_distinct()
    assert abs(est - exact) <= 0.15 * exact + 20, (est, exact)
