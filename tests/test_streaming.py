"""Streaming fold: file-source micro-batches → running sketch state with
epoch-guarded exactly-once merges."""

import shutil

import pytest

from pyspark.sql import functions as F

from sparksketch.bloom import BloomConfig
from sparksketch.hll import HLL, HLL_SEED
from sparksketch.streaming import (
    SketchStateStore,
    read_bloom_state,
    stream_bloom,
    stream_sketch,
)

SF_DIR = "/root/testdata/sf0.01"


def _stream_dir(spark, tmp_path, n_files=4):
    """Split events into several parquet files so the stream sees them."""
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = str(tmp_path / "stream_src")
    src.repartition(n_files).write.parquet(out)
    return out, src


def test_stream_bloom_fold(spark, tmp_path):
    out, src = _stream_dir(spark, tmp_path)
    schema = src.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .select(F.col("user_id").cast("string").alias("key")))
    state_dir = str(tmp_path / "bloom_state")
    q = stream_bloom(stream, "key", BloomConfig(), state_dir,
                     n_shards=16, partitions=4,
                     checkpoint_dir=str(tmp_path / "chk")).start()
    q.processAllAvailable()
    q.stop()

    state = read_bloom_state(state_dir)
    assert state is not None
    # a build counts its distinct keys and the fold adds builds, so folding
    # every micro-batch (one file each) exactly once sums per-file distincts
    per_file = (spark.read.parquet(out).groupBy(F.input_file_name())
                .agg(F.countDistinct("user_id").alias("n")))
    assert state.key_count == per_file.agg(F.sum("n")).first()[0]
    users = [str(r.user_id) for r in src.select("user_id").distinct().collect()]
    assert all(state.contains(u) for u in users)  # zero FN across batches
    assert not state.contains("definitely-not-a-user")


def test_stream_epoch_guard_skips_replay(spark, tmp_path):
    out, src = _stream_dir(spark, tmp_path)
    state_dir = str(tmp_path / "bloom_state2")
    chk = str(tmp_path / "chk2")
    schema = src.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 2).parquet(out)
              .select(F.col("user_id").cast("string").alias("key")))
    q = stream_bloom(stream, "key", BloomConfig(), state_dir,
                     n_shards=16, partitions=4, checkpoint_dir=chk).start()
    q.processAllAvailable()
    q.stop()
    before = read_bloom_state(state_dir).key_count

    # restart against the same checkpoint: no new files → no re-fold
    stream2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 2).parquet(out)
               .select(F.col("user_id").cast("string").alias("key")))
    q2 = stream_bloom(stream2, "key", BloomConfig(), state_dir,
                      n_shards=16, partitions=4, checkpoint_dir=chk).start()
    q2.processAllAvailable()
    q2.stop()
    assert read_bloom_state(state_dir).key_count == before  # not double-counted


def test_stream_hll(spark, tmp_path):
    out, src = _stream_dir(spark, tmp_path)
    schema = src.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .select(F.col("user_id").cast("string").alias("key")))
    state_dir = str(tmp_path / "hll_state")
    q = stream_sketch(stream, "key", lambda pid: HLL(12), seeds=(HLL_SEED,),
                      state_dir=state_dir,
                      checkpoint_dir=str(tmp_path / "chk3")).start()
    q.processAllAvailable()
    q.stop()
    blob = SketchStateStore(state_dir).read_blob()
    est = HLL.from_bytes(blob).estimate()
    exact = src.select(F.countDistinct("user_id")).first()[0]
    assert abs(est - exact) / exact <= 3 * HLL(12).rel_error()


def test_windowed_fold_replay_after_crash(spark, tmp_path):
    """A crash AFTER all window writes but BEFORE the global epoch commit is
    the worst replay case: every window already absorbed the batch.  The
    per-window epoch header must make the replay a no-op."""
    from sparksketch.cms import CMS, CMS_SEEDS
    from sparksketch.streaming import (
        read_windowed_states,
        windowed_fold_handler,
    )
    src = spark.read.parquet(f"{SF_DIR}/events.parquet") \
        .select("ts", F.col("user_id").cast("string").alias("key"))
    state_dir = str(tmp_path / "win_crash")
    store = SketchStateStore(state_dir)
    handle = windowed_fold_handler(store, state_dir, lambda pid: CMS(5, 4096),
                                   "ts", "key", "7 days", CMS_SEEDS, False)
    handle(src, 0)
    totals0 = {w: sk.total for w, sk in read_windowed_states(state_dir, CMS).items()}
    # crash simulation: windows folded epoch 1, global commit lost (the
    # commit is one atomic file now — remove it plus the mirror)
    handle(src, 1)
    import os
    os.remove(os.path.join(state_dir, "state.bin"))
    os.remove(os.path.join(state_dir, "commit.json"))
    assert store.last_epoch() == -1
    totals1 = {w: sk.total for w, sk in read_windowed_states(state_dir, CMS).items()}
    handle(src, 1)  # replayed micro-batch
    totals2 = {w: sk.total for w, sk in read_windowed_states(state_dir, CMS).items()}
    assert totals2 == totals1  # no double-counting anywhere
    assert all(totals1[w] == 2 * totals0[w] for w in totals0)
    assert store.last_epoch() == 1  # commit restored by the replay


def test_stream_windowed_hll(spark, tmp_path):
    from sparksketch.streaming import read_windowed_states, stream_windowed_sketch
    out, src = _stream_dir(spark, tmp_path)
    schema = src.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 2).parquet(out)
              .select("ts", F.col("user_id").cast("string").alias("key")))
    state_dir = str(tmp_path / "win_state")
    q = stream_windowed_sketch(stream, "ts", "key", lambda pid: __import__("sparksketch.hll", fromlist=["HLL"]).HLL(12),
                               window="7 days",
                               seeds=(__import__("sparksketch.hll", fromlist=["HLL_SEED"]).HLL_SEED,),
                               state_dir=state_dir,
                               checkpoint_dir=str(tmp_path / "win_chk")).start()
    q.processAllAvailable()
    q.stop()
    from sparksketch.hll import HLL
    states = read_windowed_states(state_dir, HLL)
    assert len(states) >= 2  # events span multiple 7-day windows
    # union of window estimates vs exact per-window distinct
    exact = {str(r.w).replace(" ", "_"): r.d for r in
             src.select(F.window("ts", "7 days")["start"].cast("string").alias("w"), "user_id")
                .groupBy("w").agg(F.countDistinct("user_id").alias("d")).collect()}
    assert set(states) == set(exact)
    for w, sk in states.items():
        assert abs(sk.estimate() - exact[w]) / exact[w] <= 3 * HLL(12).rel_error(), w


def test_stateful_sketch_by_key(spark, tmp_path):
    """applyInPandasWithState path: per-key HLL in Spark's keyed state store,
    updated across micro-batches, estimates within bound at the end."""
    from sparksketch.streaming import stateful_sketch_by_key
    out, src = _stream_dir(spark, tmp_path)
    schema = src.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .select("event_type", F.col("user_id").cast("string").alias("uid")))
    updates = stateful_sketch_by_key(stream, "event_type", "uid",
                                     lambda pid: HLL(12), seeds=(HLL_SEED,))
    q = (updates.writeStream.format("memory").queryName("hll_by_key")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "st_chk")).start())
    q.processAllAvailable()
    q.stop()
    # last update per key = the full-stream state
    final = spark.sql("""
        SELECT key, n_rows, estimate FROM (
          SELECT *, row_number() OVER (PARTITION BY key ORDER BY n_rows DESC) rn
          FROM hll_by_key) WHERE rn = 1""").collect()
    exact = {r.event_type: (r.n, r.d) for r in
             src.groupBy("event_type").agg(
                 F.count("*").alias("n"),
                 F.countDistinct("user_id").alias("d")).collect()}
    assert {r.key for r in final} == set(exact)
    for r in final:
        n, d = exact[r.key]
        assert r.n_rows == n  # every micro-batch counted exactly once
        assert abs(r.estimate - d) / d <= 3 * HLL(12).rel_error()


def test_stateful_sketch_ttl_eviction(spark, tmp_path):
    """Event-time-timeout eviction: keys idle past watermark + TTL emit one
    final evicted=True row and leave the store (bounded state)."""
    from sparksketch.streaming import stateful_sketch_by_key
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = str(tmp_path / "ttl_src")
    # time-ordered files → the watermark advances across micro-batches
    src.repartitionByRange(4, "ts").write.parquet(out)
    stream = (spark.readStream.schema(src.schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ → TZ for watermark
              .withWatermark("ts", "1 day")
              .select("ts", F.col("user_id").cast("string").alias("uid"),
                      F.col("event_type")))
    updates = stateful_sketch_by_key(stream, "uid", "event_type",
                                     lambda pid: HLL(12), seeds=(HLL_SEED,),
                                     ts_col="ts", ttl_seconds=7 * 86400)
    q = (updates.writeStream.format("memory").queryName("ttl_hll")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ttl_chk")).start())
    q.processAllAvailable()
    # timeouts fire when a LATER batch runs with the watermark advanced —
    # append one trailing batch far in the future to flush idle keys
    # deterministically (in production the next day's data does this)
    (src.orderBy(F.desc("ts")).limit(1)
     .withColumn("ts", F.col("ts") + F.expr("INTERVAL 365 DAYS"))
     .withColumn("user_id", F.lit(999_999_999))
     .write.mode("append").parquet(out))
    q.processAllAvailable()
    q.stop()
    evicted = spark.sql("SELECT count(*) FROM ttl_hll WHERE evicted").first()[0]
    assert evicted > 0  # idle users really left the store
    # an evicted row carries the state it had at eviction (n_rows ≥ 1)
    assert spark.sql(
        "SELECT min(n_rows) FROM ttl_hll WHERE evicted").first()[0] >= 1


def test_stateful_ttl_not_premature(spark, tmp_path):
    """A key idle for less than ttl_seconds of EVENT time must not evict —
    the timeout is based on the key's own last event time, not the
    batch-stale global watermark (which is 0 on the first batch)."""
    from sparksketch.streaming import stateful_sketch_by_key
    rows1 = [("A", "2026-01-01 00:00:00", "v1"), ("B", "2026-01-01 01:00:00", "v1")]
    rows2 = [("B", "2026-01-01 02:00:00", "v2")]  # A idle 2h < ttl 7d
    src = str(tmp_path / "npsrc")
    df1 = spark.createDataFrame(rows1, "k string, ts string, v string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    df1.coalesce(1).write.parquet(src)
    df2 = spark.createDataFrame(rows2, "k string, ts string, v string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    df2.coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(df1.schema)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .withWatermark("ts", "10 seconds"))
    upd = stateful_sketch_by_key(stream, "k", "v", lambda pid: HLL(10),
                                 seeds=(HLL_SEED,), ts_col="ts",
                                 ttl_seconds=7 * 86400)
    q = (upd.writeStream.format("memory").queryName("np_ttl")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "np_chk")).start())
    q.processAllAvailable()
    q.stop()
    assert spark.sql("SELECT count(*) FROM np_ttl WHERE evicted").first()[0] == 0


def test_stream_dedup_exact(spark, tmp_path):
    from sparksketch.streaming import stream_dedup_exact
    import datetime as dt
    base = dt.datetime(2026, 1, 1)
    rows = [(i % 40, base + dt.timedelta(seconds=i)) for i in range(200)]
    src = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = str(tmp_path / "in")
    src.repartition(4).write.parquet(out)
    stream = (spark.readStream.schema(src.schema)
              .option("maxFilesPerTrigger", 2).parquet(out)
              .select(F.col("user_id").cast("string").alias("key"), "ts"))
    dd = stream_dedup_exact(stream, ["key"], "ts", delay="1 hour")
    sink = str(tmp_path / "out")
    q = (dd.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "chk"))
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(sink)
    # 40 distinct keys, all duplicates within the watermark horizon dropped
    assert got.count() == 40
    assert got.select("key").distinct().count() == 40
    # schema passthrough: helper column removed
    assert set(got.columns) == {"key", "ts"}


def test_stream_dedup_null_columns_are_distinct(spark, tmp_path):
    # (x, NULL) and (NULL, x) must NOT collide: xxhash64 skips null children
    from sparksketch.streaming import stream_dedup_exact
    import datetime as dt
    base = dt.datetime(2026, 1, 1)
    rows = [("x", None, base), (None, "x", base),
            ("", "x", base), ("x", "", base)]
    src = spark.createDataFrame(rows, "a string, b string, ts timestamp")
    out = str(tmp_path / "in2")
    src.coalesce(1).write.parquet(out)
    stream = spark.readStream.schema(src.schema).parquet(out)
    dd = stream_dedup_exact(stream, ["a", "b"], "ts", delay="1 hour")
    sink = str(tmp_path / "out2")
    q = (dd.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "chk2"))
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(sink).count() == 4   # all four keys distinct


def test_stream_ams_and_theta_byte_identical_to_batch(spark, tmp_path):
    """AMS and Theta stream through the generic fold with NO new code, and
    their order-invariant merges make the streamed state byte-identical to
    a one-shot batch build over the same rows — the strongest exactly-once
    statement the fold can make."""
    from sparksketch.ams import AMS, AMS_SEED, ams_build
    from sparksketch.theta import THETA_SEED, Theta, theta_build

    out, src = _stream_dir(spark, tmp_path)
    schema = src.schema
    keyed = src.select(F.col("user_id").cast("string").alias("key"))

    for name, factory, seed, batch_fn in [
        ("ams", lambda pid: AMS(d=5, w=1024), AMS_SEED,
         lambda df: ams_build(df, "key", d=5, w=1024)),
        ("theta", lambda pid: Theta(k=512), THETA_SEED,
         lambda df: theta_build(df, "key", k=512)),
    ]:
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(out)
                  .select(F.col("user_id").cast("string").alias("key")))
        state_dir = str(tmp_path / f"{name}_state")
        q = stream_sketch(stream, "key", factory, seeds=(seed,),
                          state_dir=state_dir,
                          checkpoint_dir=str(tmp_path / f"chk_{name}")).start()
        q.processAllAvailable()
        q.stop()
        blob = SketchStateStore(state_dir).read_blob()
        assert blob == batch_fn(keyed).to_bytes(), name


def test_stream_range_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream band join must produce exactly the
    batch range_join's pair set when every row arrives within the
    watermark horizon."""
    from sparksketch.events import range_join
    from sparksketch.streaming import stream_range_join

    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    clicks = (src.filter("event_type = 'click'")
              .select("user_id", F.col("ts").alias("c_ts")))
    purch = (src.filter("event_type = 'purchase'")
             .select("user_id", F.col("ts").alias("p_ts")))
    c_dir, p_dir = str(tmp_path / "c"), str(tmp_path / "p")
    clicks.repartition(3).write.parquet(c_dir)
    purch.repartition(3).write.parquet(p_dir)

    cs = (spark.readStream.schema(clicks.schema)
          .option("maxFilesPerTrigger", 1).parquet(c_dir))
    ps = (spark.readStream.schema(purch.schema)
          .option("maxFilesPerTrigger", 1).parquet(p_dir))
    out = stream_range_join(cs, ps, "user_id", "c_ts", "p_ts",
                            delta_seconds=600, delay="365 days")
    q = (out.writeStream.format("memory").queryName("srj")
         .option("checkpointLocation", str(tmp_path / "chk"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.user_id, r.c_ts, r.p_ts) for r in spark.sql("SELECT * FROM srj").collect()}

    want_df = range_join(clicks.withColumnRenamed("c_ts", "ts"),
                         purch.withColumnRenamed("p_ts", "ts"),
                         "user_id", "ts", 600)
    want = {(r.user_id, r.ts, r.ts_r) for r in want_df.collect()}
    assert got == want
    assert len(got) > 0  # non-vacuous at sf0.01


def test_stream_range_join_guards(spark):
    from sparksketch.streaming import stream_range_join
    df = spark.readStream.format("rate").load()  # has timestamp, value
    with pytest.raises(ValueError, match="positive"):
        stream_range_join(df, df, "value", "timestamp", "timestamp", 0)


def test_stream_pq_encode_matches_batch(spark, tmp_path):
    """Streaming ANN ingest needs no new operator: pq_encode (with or
    without the IVFPQ coarse stage) is a stateless Arrow transform, so it
    applies unchanged to a readStream frame; writeStream.partitionBy(
    'ivf_list') maintains the same pruned code-table layout the batch
    probes scan.  Pins: a 3-micro-batch file stream produces EXACTLY the
    batch encode's rows (same codes, same list assignment, all rows)."""
    import numpy as np

    from sparksketch.pq import coarse_centroids_l2, pq_encode, pq_train

    rng = np.random.default_rng(21)
    vecs = rng.normal(size=(90, 16)).astype(np.float32)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(90)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    src = str(tmp_path / "src")
    for b in range(3):  # one file per micro-batch
        (df.filter((F.col("vec_id") % 3) == b).coalesce(1)
         .write.mode("append").parquet(src))
    coarse = coarse_centroids_l2(df, "embedding", n_lists=4, seed=11)
    model = pq_train(df, "embedding", m_sub=4, k=8, iters=4, seed=3,
                     coarse=coarse)

    stream = (spark.readStream.schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "codes")
    q = (pq_encode(stream, "embedding", model, coarse=coarse,
                   keep=["vec_id"])
         .writeStream.format("parquet").partitionBy("ivf_list")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r.vec_id: (r.ivf_list, bytes(r.pq_code))
           for r in spark.read.parquet(out).collect()}
    want = {r.vec_id: (r.ivf_list, bytes(r.pq_code))
            for r in pq_encode(df, "embedding", model, coarse=coarse,
                               keep=["vec_id"]).collect()}
    assert got == want and len(got) == 90


def test_stream_windowed_trending_heavy_hitters(spark, tmp_path):
    """Trending-keys surface: Misra-Gries through the windowed fold.  With
    k >= the distinct-key count MG is exact, so every per-window top list
    must EQUAL the batch groupBy counts; the fold order (micro-batches)
    differing from the batch build's is exactly what the mergeable-sketch
    guarantee has to absorb."""
    from sparksketch.streaming import read_windowed_states, stream_windowed_sketch
    from sparksketch.topk import MisraGries

    out, src = _stream_dir(spark, tmp_path)
    key = (F.col("user_id") % 8).cast("string").alias("key")
    stream = (spark.readStream.schema(src.schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .select("ts", key))
    state_dir = str(tmp_path / "mg_state")
    q = stream_windowed_sketch(stream, "ts", "key",
                               lambda pid: MisraGries(16),
                               window="7 days", keyed=True,
                               state_dir=state_dir,
                               checkpoint_dir=str(tmp_path / "mg_chk")).start()
    q.processAllAvailable()
    q.stop()
    states = read_windowed_states(state_dir, MisraGries)
    exact = {}
    for r in (src.select(F.window("ts", "7 days")["start"].cast("string")
                         .alias("w"), key)
              .groupBy("w", "key").count().collect()):
        exact.setdefault(str(r.w).replace(" ", "_"), {})[r.key] = r["count"]
    assert set(states) == set(exact) and len(states) >= 2
    for w, sk in states.items():
        got = dict(sk.topk())
        assert got == exact[w], w  # k=16 >= 8 distinct keys: exact
