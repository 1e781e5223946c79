"""Resume semantics: completed partitions replay from checkpoint, the final
blob is identical, and a changed fingerprint invalidates old state
(SURVEY.md §5.2 item 6)."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from sparksketch.bloom import (BloomFilterState, Level, _write_checkpoint, build_bloom,
                               build_bloom_states, build_fingerprint, completed_partitions,
                               hash_probe_cols, resolve_m0, route_expr)
from sparksketch.checkpoint import checkpoint_metas, clear_checkpoint, load_state, save_state
from sparksketch.config import Accuracy, BloomConfig, InitialCapacity


def _keys(spark, n):
    return spark.range(0, n).select(F.col("id").cast("string").alias("key"))


def test_checkpoint_write_and_resume_identical(spark, tmp_path):
    chk = str(tmp_path / "chk")
    cfg = BloomConfig()
    df = _keys(spark, 8000)

    full = build_bloom(df, "key", cfg, n_shards=16, partitions=8,
                       checkpoint_dir=chk, input_id="keys8000")
    metas = checkpoint_metas(chk)
    assert len(metas) == 8
    assert sum(m["rows"] for m in metas) == 8000
    fp = metas[0]["fingerprint"]
    assert all(m["fingerprint"] == fp for m in metas)

    # simulate a killed run: 3 of 8 partitions lost their state
    for pid in (1, 4, 6):
        os.remove(os.path.join(chk, f"part-{pid:05d}.bin"))
        os.remove(os.path.join(chk, f"part-{pid:05d}.meta.json"))
    assert len(completed_partitions(chk, fp, cfg, 16, resolve_m0(cfg, 16, None))) == 5

    resumed = build_bloom(df, "key", cfg, n_shards=16, partitions=8,
                          checkpoint_dir=chk, input_id="keys8000")
    assert resumed.to_bytes() == full.to_bytes()
    assert len(checkpoint_metas(chk)) == 8  # lost partitions re-checkpointed


def test_fingerprint_changes_invalidate(spark, tmp_path):
    chk = str(tmp_path / "chk2")
    cfg = BloomConfig()
    m0 = resolve_m0(cfg, 16, None)
    fp1 = build_fingerprint(cfg, 16, m0, 8, "key", "a")
    assert build_fingerprint(cfg, 16, m0, 8, "key", "b") != fp1
    assert build_fingerprint(cfg, 16, m0, 4, "key", "a") != fp1
    assert build_fingerprint(BloomConfig(accuracy=Accuracy.HIGH), 16, m0, 8, "key", "a") != fp1

    build_bloom(_keys(spark, 1000), "key", cfg, n_shards=16, partitions=8,
                checkpoint_dir=chk, input_id="a")
    # a different input_id must not reuse those checkpoints
    other_fp = build_fingerprint(cfg, 16, m0, 8, "key", "b")
    assert completed_partitions(chk, other_fp, cfg, 16, m0) == frozenset()


def test_strict_parity_checkpoint_resume_identical(spark, tmp_path):
    """Resume must reproduce the strict build byte-for-byte (the strict flag
    travels in the partition blobs and the fingerprint)."""
    chk = str(tmp_path / "chk_strict")
    cfg = BloomConfig(strict_parity=True)
    df = _keys(spark, 4000)
    full = build_bloom(df, "key", cfg, n_shards=8, partitions=4,
                       checkpoint_dir=chk, input_id="strict4000")
    assert full.strict
    for pid in (0, 2):
        os.remove(os.path.join(chk, f"part-{pid:05d}.bin"))
        os.remove(os.path.join(chk, f"part-{pid:05d}.meta.json"))
    resumed = build_bloom(df, "key", cfg, n_shards=8, partitions=4,
                          checkpoint_dir=chk, input_id="strict4000")
    assert resumed.to_bytes() == full.to_bytes()
    # strict and default builds of the same input never share fingerprints
    m0 = resolve_m0(cfg, 8, None)
    assert (build_fingerprint(cfg, 8, m0, 4, "key", "x")
            != build_fingerprint(BloomConfig(), 8, m0, 4, "key", "x"))


@pytest.mark.parametrize("strict", [False, True])
def test_resume_replays_only_blobs_their_meta_vouches_for(spark, tmp_path, strict):
    """Crash states of a checkpointed build at 4096 shards with multi-level
    shard-tiers.  Build F2 shares F1's geometry and differs only in its
    input, so its partition blobs decode cleanly under F1's fingerprint; a
    resume of F1 must rebuild every partition whose blob its meta does not
    vouch for, and come out byte-identical to a clean build."""
    cfg = BloomConfig(initial_capacity=InitialCapacity.LOW, accuracy=Accuracy.HIGH,
                      strict_parity=strict)
    hot = (_keys(spark, 1_000_000).select("key", *hash_probe_cols("key"))
           .where(route_expr(cfg.shards) < 8).select("key"))
    f1 = _keys(spark, 20_000).union(hot.limit(2000)).cache()
    f2 = spark.range(50_000, 70_000).select(F.col("id").cast("string").alias("key"))
    clean = build_bloom(f1, "key", cfg, partitions=4)
    assert max(len(t) for c in clean.shards.values() for t in c) >= 2
    chk1, chk2 = str(tmp_path / "f1"), str(tmp_path / "f2")
    build_bloom(f1, "key", cfg, partitions=4, checkpoint_dir=chk1, input_id="F1")
    build_bloom(f2, "key", cfg, partitions=4, checkpoint_dir=chk2, input_id="F2")

    def part(d, pid, ext):
        return os.path.join(d, f"part-{pid:05d}.{ext}")

    # pid 0: F2 died after replacing its .bin, before its meta, under a
    # meta F1 left (the write order before the old meta was dropped first)
    shutil.copy(part(chk2, 0, "bin"), part(chk1, 0, "bin"))
    # pid 1, the reverse: F2 died after dropping the old meta, before
    # replacing the .bin, which is still F1's
    os.remove(part(chk1, 1, "meta.json"))
    # pid 2: F2 dropped the old meta and replaced the .bin, then died
    os.remove(part(chk1, 2, "meta.json"))
    shutil.copy(part(chk2, 2, "bin"), part(chk1, 2, "bin"))
    # pid 3: intact, beside stale temporaries of a task that died writing
    for tmp in (".part-00003.tmp", ".part-00003.meta.tmp"):
        with open(os.path.join(chk1, tmp), "wb") as f:
            f.write(b"partial")

    states, info = build_bloom_states(f1, "key", cfg, partitions=4, checkpoint_dir=chk1,
                                      input_id="F1")
    assert info["resumed_partitions"] == [3]
    acc = BloomFilterState.empty(cfg, cfg.shards, info["m0"])
    for r in states.collect():
        acc.merge(BloomFilterState.from_bytes(r.state))
    assert acc.to_bytes() == clean.to_bytes()
    resumed = build_bloom(f1, "key", cfg, partitions=4, checkpoint_dir=chk1, input_id="F1")
    assert resumed.to_bytes() == clean.to_bytes()
    assert sorted(m["pid"] for m in checkpoint_metas(chk1)) == [0, 1, 2, 3]
    f1.unpersist()


def test_completed_partitions_skips_malformed_metas(tmp_path):
    """A meta is trusted only if it is a well-formed dict for its own file
    name, with this build's fingerprint, and the blob has its length,
    digest and this build's geometry; anything else is skipped, never
    raised."""
    chk, cfg = str(tmp_path), BloomConfig()
    st = BloomFilterState(cfg.tiers, 8, cfg.m0, cfg.threshold, cfg.rehash,
                          {3: [[Level.fresh(0, cfg.m0, cfg.threshold)] for _ in range(cfg.tiers)]})
    _write_checkpoint(chk, 0, st, 1, "fp")
    assert completed_partitions(chk, "fp", cfg, 8, cfg.m0) == {0}
    assert completed_partitions(chk, "fp", cfg, 16, cfg.m0) == frozenset()
    assert completed_partitions(chk, "fp", cfg, 8, 2 * cfg.m0) == frozenset()
    assert completed_partitions(chk, "fp", BloomConfig(strict_parity=True), 8, cfg.m0) == frozenset()
    with open(os.path.join(chk, "part-00000.meta.json")) as f:
        good = json.load(f)
    bad = [[], "x", 3, None, {}, {**good, "pid": "0"}, {**good, "pid": True},
           {**good, "pid": 1}, {**good, "pid": -1}, {**good, "bytes": good["bytes"] + 1},
           {**good, "blake2b": "0" * 16}, {k: v for k, v in good.items() if k != "blake2b"},
           {k: v for k, v in good.items() if k != "fingerprint"}]
    for meta in bad:
        with open(os.path.join(chk, "part-00000.meta.json"), "w") as f:
            json.dump(meta, f)
        assert completed_partitions(chk, "fp", cfg, 8, cfg.m0) == frozenset(), meta
    with open(os.path.join(chk, "part-00000.meta.json"), "w") as f:
        f.write("{not json")
    assert completed_partitions(chk, "fp", cfg, 8, cfg.m0) == frozenset()


def test_default_input_id_from_input_files(spark, tmp_path):
    """Two DIFFERENT parquet tables with identical (config, partitions, col)
    must not share a checkpoint fingerprint when input_id is defaulted."""
    from sparksketch.bloom import build_bloom_states
    pa_path, pb_path = str(tmp_path / "ta"), str(tmp_path / "tb")
    _keys(spark, 500).write.parquet(pa_path)
    _keys(spark, 600).write.parquet(pb_path)
    a = spark.read.parquet(pa_path)
    b = spark.read.parquet(pb_path)
    cfg = BloomConfig()
    chk_a, chk_b = str(tmp_path / "ca"), str(tmp_path / "cb")
    _, ia = build_bloom_states(a, "key", cfg, n_shards=8, partitions=4, checkpoint_dir=chk_a)
    _, ib = build_bloom_states(b, "key", cfg, n_shards=8, partitions=4, checkpoint_dir=chk_b)
    assert ia["fingerprint"] != ib["fingerprint"]
    # same table → same fingerprint (resume still works)
    _, ia2 = build_bloom_states(a, "key", cfg, n_shards=8, partitions=4, checkpoint_dir=chk_a)
    assert ia2["fingerprint"] == ia["fingerprint"]


def test_merge_into_adopt_does_not_alias_donor(spark):
    """OR-merging more state into an accumulator must never mutate a
    previously-adopted donor filter (copy-on-adopt)."""
    from sparksketch.bloom import BloomFilterState, build_bloom
    a = build_bloom(_keys(spark, 400), "key", BloomConfig(), n_shards=4, partitions=2)
    b = build_bloom(
        spark.range(1000, 1400).select(F.col("id").cast("string").alias("key")),
        "key", BloomConfig(), n_shards=4, partitions=2)
    donor_bytes = b.to_bytes()
    acc = BloomFilterState.empty(BloomConfig(), 4, a.m0)
    acc.merge(b)   # adopts b's shards (acc was empty)
    acc.merge(a)   # ORs a into the adopted arrays
    assert b.to_bytes() == donor_bytes  # donor untouched
    assert not b.contains("0") and b.contains("1000")


def test_save_load_roundtrip(spark, tmp_path):
    state = build_bloom(_keys(spark, 2000), "key", BloomConfig(), n_shards=8, partitions=4)
    path = str(tmp_path / "filter.bin")
    n = save_state(state, path)
    assert n > 0
    loaded = load_state(path)
    assert loaded.to_bytes() == state.to_bytes()
    assert loaded.contains("1999") and not loaded.contains("2001")


def test_clear_checkpoint(spark, tmp_path):
    chk = str(tmp_path / "chk3")
    build_bloom(_keys(spark, 500), "key", BloomConfig(), n_shards=4, partitions=2,
                checkpoint_dir=chk, input_id="x")
    assert checkpoint_metas(chk)
    clear_checkpoint(chk)
    assert not checkpoint_metas(chk)


def test_write_metrics(tmp_path):
    from sparksketch.checkpoint import write_metrics
    import json
    p = str(tmp_path / "m" / "metrics.json")
    write_metrics(p, {"rows": 5, "elapsed_sec": 1.5})
    with open(p) as f:
        m = json.load(f)
    assert m["rows"] == 5 and "written_at" in m


def test_iceberg_unavailable_in_sandbox(spark):
    from sparksketch.sources import iceberg_available
    assert iceberg_available(spark) is False  # no catalog conf, no jars


def test_merge_into_never_aliases_donor_levels(spark):
    """Appending a donor's EXTRA levels (not just whole shards) must copy:
    a later merge into the accumulator must never mutate the donor."""
    from sparksketch.bloom import build_bloom
    cfg = BloomConfig()
    # acc: few keys (1 level/shard); donor: many keys (multi-level shards)
    acc = build_bloom(_keys(spark, 200), "key", cfg, n_shards=2, partitions=2)
    donor = build_bloom(
        spark.range(10_000, 13_000).select(F.col("id").cast("string").alias("key")),
        "key", cfg, n_shards=2, partitions=2)
    assert max(len(t) for c in donor.shards.values() for t in c) >= 2
    donor_bytes = donor.to_bytes()
    acc.merge(donor)  # appends donor's deeper levels into acc's shards
    extra = build_bloom(
        spark.range(20_000, 23_000).select(F.col("id").cast("string").alias("key")),
        "key", cfg, n_shards=2, partitions=2)
    acc.merge(extra)  # ORs into the appended level objects
    assert donor.to_bytes() == donor_bytes  # donor untouched
    assert not donor.contains("20005")
