"""Per-group sketch pattern: bloom_by_group, cms_by_group, and source
abstraction (Iceberg-or-parquet)."""

import pytest
from pyspark.sql import functions as F

from sparksketch.bloom import BloomFilterState, bloom_by_group, build_bloom, with_group_membership
from sparksketch.cms import CMS, cms_by_group
from sparksketch.config import BloomConfig
from sparksketch.sources import input_fingerprint, is_table_identifier, load_table

SF_DIR = "/root/testdata/sf0.01"


def test_bloom_by_group_zero_fn(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    states = bloom_by_group(docs, "source", "text", BloomConfig(),
                            expected_keys_per_group=200)
    filters = {r.group: BloomFilterState.from_bytes(bytes(r.state)) for r in states.collect()}
    sample = docs.select("source", "text").limit(300).collect()
    for r in sample:
        assert filters[r.source].contains(r.text), r.source  # zero FN per group
    # cross-group: a text from one source is (almost surely) absent elsewhere
    others = [g for g in filters if g != sample[0].source][:5]
    fp = sum(filters[g].contains(sample[0].text) for g in others)
    assert fp == 0
    # key counts add up
    counts = {r.source: r["count"] for r in docs.groupBy("source").count().collect()}
    for g, f in filters.items():
        assert f.key_count == counts[g]


def test_with_group_membership_distributed(spark):
    """Distributed per-group probe: zero FN against own group, near-zero FP
    against foreign groups, rows never collected to the driver."""
    from pyspark.sql import functions as F

    from sparksketch.bloom import with_group_membership
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    states = bloom_by_group(docs, "source", "text", BloomConfig(),
                            expected_keys_per_group=200)
    own = with_group_membership(docs.select("source", "text"), "source", "text", states)
    assert own.filter(~F.col("is_member")).count() == 0  # zero FN per group
    # shift every row to the NEXT source: texts are (almost surely) foreign
    srcs = sorted(r.source for r in docs.select("source").distinct().collect())
    nxt = {s: srcs[(i + 1) % len(srcs)] for i, s in enumerate(srcs)}
    shifted = docs.select(
        F.element_at(F.create_map(*[F.lit(x) for kv in nxt.items() for x in kv]),
                     F.col("source")).alias("source"), "text")
    fp = with_group_membership(shifted, "source", "text", states)
    assert fp.filter(F.col("is_member")).count() <= docs.count() * 0.01


def test_with_group_membership_group_cardinality_gate(spark):
    """The broadcast path is gated: above ``max_groups`` the call must fail
    fast with a pointer at membership_join, for both DataFrame and dict
    state inputs — a million-group build would OOM the driver silently."""
    from sparksketch.bloom import with_group_membership
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    states = bloom_by_group(docs, "source", "text", BloomConfig(),
                            expected_keys_per_group=200)
    n_groups = states.count()
    with pytest.raises(ValueError, match="membership_join"):
        with_group_membership(docs.select("source", "text"), "source", "text",
                              states, max_groups=n_groups - 1)
    blob_map = {r.group: bytes(r.state) for r in states.collect()}
    with pytest.raises(ValueError, match="membership_join"):
        with_group_membership(docs.select("source", "text"), "source", "text",
                              blob_map, max_groups=n_groups - 1)
    # at the gate boundary the call still works
    ok = with_group_membership(docs.select("source", "text"), "source", "text",
                               states, max_groups=n_groups)
    assert ok.filter(~F.col("is_member")).count() == 0


def _group_blobs(df, expected):
    states = bloom_by_group(df, "g", "key", BloomConfig(), expected_keys_per_group=expected)
    return {r.group: bytes(r.state) for r in states.collect()}


@pytest.fixture(scope="module")
def grouped(spark):
    """12k distinct keys in three groups of 9000, 2000 and 1000 keys, with
    small Arrow batches so group runs span batches; built with
    expected_keys_per_group=500, so every group opens levels >= 1."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "700")
    df = spark.range(12_000).select(
        F.when(F.col("id") < 9000, "big").when(F.col("id") < 11_000, "mid")
        .otherwise("small").alias("g"),
        F.concat(F.lit("k"), F.col("id")).alias("key")).cache()
    try:
        yield df, _group_blobs(df, 500)
    finally:
        df.unpersist()
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_bloom_by_group_ignores_order_partitioning_and_duplicates(grouped):
    df, base = grouped
    assert set(base) == {"big", "mid", "small"}
    for variant in (df.orderBy(F.rand(1)), df.repartition(3), df.union(df.orderBy(F.rand(2)))):
        assert _group_blobs(variant, 500) == base


def test_bloom_by_group_equals_one_shard_build(grouped):
    """Each group's blob is the 1-shard build_bloom blob over its rows, and
    key_count counts its distinct keys, in multi-level groups too."""
    df, base = grouped
    sizes = {"big": 9000, "mid": 2000, "small": 1000}
    for g, blob in base.items():
        want = build_bloom(df.filter(F.col("g") == g), "key", BloomConfig(), n_shards=1,
                           expected_keys=500, enforce_key_limit=False)
        assert blob == want.to_bytes(), g
        state = BloomFilterState.from_bytes(blob)
        assert state.key_count == sizes[g]
        assert all(len(tier) > 1 for tier in state.shards[0])  # levels >= 1 opened


def test_bloom_by_group_drops_null_groups_and_keys(spark, grouped):
    df, base = grouped
    extra = spark.createDataFrame([(None, "k1"), (None, "nokey"), ("small", None), ("nulls", None)],
                                  "g string, key string")
    assert _group_blobs(df.union(extra), 500) == base


def test_with_group_membership_multi_level_zero_fn(grouped):
    df, base = grouped
    flagged = with_group_membership(df, "g", "key", base)
    assert flagged.filter(~F.col("is_member")).count() == 0


def test_cms_by_group_exact_small_groups(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    states = cms_by_group(ev, "event_type", "user_id", d=5, w=4096)
    sks = {r.group: CMS.from_bytes(bytes(r.state)) for r in states.collect()}
    exact = {(r.event_type, str(r.user_id)): r["count"] for r in
             ev.groupBy("event_type", "user_id").count().limit(300).collect()}
    for (et, uid), cnt in exact.items():
        q = sks[et].query(uid)
        assert q >= cnt
        assert q - cnt <= sks[et].error_bound()


def test_sources_parquet_path(spark):
    assert not is_table_identifier(f"{SF_DIR}/nation.parquet")
    assert is_table_identifier("iceberg.db.webpages")
    df = load_table(spark, f"{SF_DIR}/nation.parquet")
    assert df.count() == 25
    fp1 = input_fingerprint(spark, f"{SF_DIR}/nation.parquet")
    fp2 = input_fingerprint(spark, f"{SF_DIR}/nation.parquet")
    assert fp1 == fp2 and "@" in fp1
    assert fp1 != input_fingerprint(spark, f"{SF_DIR}/region.parquet")


def test_snapshot_pin_requires_iceberg(spark):
    with pytest.raises(ValueError):
        load_table(spark, f"{SF_DIR}/nation.parquet", snapshot_id=3)


def test_sketch_agg_udf(spark):
    """GROUPED_AGG expression-style UDAF (convenience API; scale path is
    sketch_by_group)."""
    from sparksketch.hll import HLL, HLL_SEED
    from sparksketch.sketch import sketch_agg_udf
    from sparksketch.tdigest import TDigest
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    hll_agg = sketch_agg_udf(lambda pid: HLL(12), seeds=(HLL_SEED,))
    td_agg = sketch_agg_udf(lambda pid: TDigest(100), numeric=True,
                            method="quantile", args=(0.5,))
    got = {r.event_type: (r.u, r.m) for r in
           ev.groupBy("event_type").agg(hll_agg(F.col("user_id")).alias("u"),
                                        td_agg(F.col("value")).alias("m")).collect()}
    exact = {r.event_type: r.d for r in
             ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("d")).collect()}
    for g, d in exact.items():
        assert abs(got[g][0] - d) / d <= 3 * HLL(12).rel_error()
        assert got[g][1] > 0


def test_write_table_parquet_partitioned(spark, tmp_path):
    from sparksketch.sources import load_table, write_table
    df = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    out = str(tmp_path / "nations_out")
    write_table(df, out, mode="overwrite", partition_by=["n_regionkey"])
    back = load_table(spark, out)
    assert back.count() == 25
    assert sorted(back.columns) == sorted(df.columns)


def test_iceberg_branch_wiring_with_stubs():
    """No Iceberg jars in the sandbox, so exercise the identifier branches
    (reader options, writeTo verbs, snapshot fingerprint) against stubs —
    the wiring a real catalog would hit."""
    from sparksketch.sources import input_fingerprint, load_table, write_table

    calls = []

    class Reader:
        def option(self, k, v):
            calls.append(("option", k, v))
            return self

        def table(self, ident):
            calls.append(("table", ident))
            return "DF"

    class FakeSpark:
        read = Reader()

        def sql(self, q):
            calls.append(("sql", q))

            class R:
                def first(self):
                    return [4242]
            return R()

    assert load_table(FakeSpark(), "iceberg.db.pages", snapshot_id=7) == "DF"
    assert ("option", "snapshot-id", "7") in calls and ("table", "iceberg.db.pages") in calls

    class WriteTo:
        def __init__(self):
            self.verbs = []

        def partitionedBy(self, *cols):
            self.verbs.append(("partitionedBy", len(cols)))
            return self

        def createOrReplace(self):
            self.verbs.append(("createOrReplace",))

        def append(self):
            self.verbs.append(("append",))

    class FakeDF:
        def __init__(self):
            self.wt = WriteTo()

        def writeTo(self, ident):
            self.wt.verbs.append(("target", ident))
            return self.wt

    df = FakeDF()
    write_table(df, "iceberg.db.pages", mode="overwrite", partition_by=["lang"])
    assert df.wt.verbs == [("target", "iceberg.db.pages"), ("partitionedBy", 1),
                           ("createOrReplace",)]
    df2 = FakeDF()
    write_table(df2, "iceberg.db.pages", mode="append")
    assert df2.wt.verbs == [("target", "iceberg.db.pages"), ("append",)]

    fp = input_fingerprint(FakeSpark(), "iceberg.db.pages")
    assert fp == "iceberg.db.pages@4242"


def test_multi_format_roundtrip(spark, tmp_path):
    """json / csv / orc paths round-trip through load_table/write_table with
    format inferred from the suffix."""
    from sparksketch.sources import load_table, path_format, write_table
    assert path_format("x.jsonl") == "json" and path_format("x.tsv") == "csv"
    assert path_format("some/dir") == "parquet"
    df = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    for suffix in ("json", "csv", "orc"):
        out = str(tmp_path / f"nation_out.{suffix}")
        write_table(df, out, mode="overwrite")
        back = load_table(spark, out)
        assert back.count() == 25
        assert sorted(back.columns) == sorted(df.columns)
        # schema-supplied read skips inference
        back2 = load_table(spark, out,
                           schema="n_nationkey long, n_name string, n_regionkey long, n_comment string")
        assert back2.count() == 25


def test_bucketed_join_avoids_exchange(spark, tmp_path):
    """Bucketed tables co-locate join keys at WRITE time: a join of two
    tables bucketed on the same key runs with NO shuffle exchange — the
    at-scale recipe for repeated joins against a huge fact table."""
    import io
    from contextlib import redirect_stdout

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    (docs.write.mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id")
     .saveAsTable("docs_bucketed"))
    (docs.select("doc_id", "lang").write.mode("overwrite")
     .bucketBy(8, "doc_id").saveAsTable("meta_bucketed"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the test table is broadcast-sized; turn broadcast off so the
        # planner faces the real choice the 100 TB fact table would: shuffle
        # both sides, or use the buckets
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("docs_bucketed").join(
            spark.table("meta_bucketed"), "doc_id")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "Exchange" not in plan  # co-located: no shuffle either side
        assert "Bucketed: true" in plan
        assert joined.count() == docs.count()
        # contrast: the same join on plain parquet must shuffle both sides
        plain = docs.join(docs.select("doc_id", "lang").withColumnRenamed("lang", "l2"),
                          "doc_id")
        buf2 = io.StringIO()
        with redirect_stdout(buf2):
            plain.explain()
        assert "Exchange" in buf2.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS docs_bucketed")
        spark.sql("DROP TABLE IF EXISTS meta_bucketed")


def test_theta_by_group(spark):
    from sparksketch.sketch import estimate_col
    from sparksketch.theta import Theta, theta_by_group
    df = spark.range(30_000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 9000).cast("string").alias("k"))
    out = theta_by_group(df, "g", "k", k=2048)
    est = {r.group: r.est for r in
           out.withColumn("est", estimate_col(Theta)("state")).collect()}
    # 9000 ≡ 0 (mod 3) ⇒ k = id mod 9000 ≡ g (mod 3): 3000 distinct k/group
    for g in ("0", "1", "2"):
        assert abs(est[g] - 3000) < 0.12 * 3000, (g, est[g])


def test_register_sql_functions(spark):
    """Persisted sketch states are queryable from plain SQL."""
    from sparksketch.hll import HLL, HLL_SEED, hll_by_group
    from sparksketch.sketch import register_sql_functions
    from sparksketch.tdigest import tdigest_by_group
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    names = register_sql_functions(spark)
    assert "sk_hll_est" in names and "sk_tdigest_quantile" in names

    hll_by_group(ev, "event_type", "user_id", p=12).createOrReplaceTempView("hsk")
    got = {r.group: r.est for r in
           spark.sql("SELECT group, sk_hll_est(state) AS est FROM hsk").collect()}
    exact = {r.event_type: r.n for r in
             ev.filter("user_id IS NOT NULL").groupBy("event_type")
               .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert set(got) == set(exact)
    for g, e in exact.items():
        assert abs(got[g] - e) / e <= 3 * HLL(12).rel_error()

    tdigest_by_group(ev, "event_type", "value").createOrReplaceTempView("tsk")
    meds = {r.group: r.q for r in spark.sql(
        "SELECT group, sk_tdigest_quantile(state, 0.5) AS q FROM tsk").collect()}
    assert set(meds) == set(exact) and all(v is not None for v in meds.values())
    # a SQL NULL quantile argument yields NULL, never a crash or the max
    nulls = spark.sql("SELECT sk_tdigest_quantile(state, CAST(NULL AS DOUBLE)) AS q, "
                      "sk_kll_quantile(state, CAST(NULL AS DOUBLE)) AS k FROM tsk").collect()
    assert all(r.q is None and r.k is None for r in nulls)

    # every registered decoder executes against a real state blob
    from sparksketch.ams import ams_by_group
    from sparksketch.cms import cms_by_group
    from sparksketch.fd import fd_by_group
    from sparksketch.kll import kll_by_group
    from sparksketch.theta import theta_by_group
    theta_by_group(ev, "event_type", "user_id", k=512).createOrReplaceTempView("thsk")
    ams_by_group(ev, "event_type", "user_id", w=1024).createOrReplaceTempView("amsk")
    cms_by_group(ev, "event_type", "user_id").createOrReplaceTempView("cmsk")
    kll_by_group(ev, "event_type", "value").createOrReplaceTempView("klsk")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    fd_by_group(emb, "label", "embedding", ell=8).createOrReplaceTempView("fdsk")
    n_ev = ev.filter("user_id IS NOT NULL").count()
    for sql, lo, hi in [
        ("SELECT sk_theta_est(state) AS v FROM thsk", 1, n_ev),
        ("SELECT sk_ams_f2(state) AS v FROM amsk", 1, float("inf")),
        ("SELECT sk_cms_total(state) AS v FROM cmsk", 1, n_ev),
        ("SELECT sk_kll_quantile(state, 0.5) AS v FROM klsk", -1e12, 1e12),
        ("SELECT sk_fd_error_bound(state) AS v FROM fdsk", 0, float("inf")),
    ]:
        vals = [r.v for r in spark.sql(sql).collect()]
        assert vals and all(v is not None and lo <= v <= hi for v in vals), sql


# -- robust JSON ingestion -------------------------------------------------

def test_parse_json_robust_semantics(spark):
    from sparksketch.sources import parse_json_robust
    rows = [
        ("ok-full", '{"k": 7, "s": "x"}'),
        ("ok-missing-field", '{"k": 9}'),
        ("corrupt-truncated", '{"k": 7, "s'),
        ("corrupt-garbage", 'not json at all'),
        ("json-null", 'null'),
        ("json-scalar", '42'),
        ("absent", None),
    ]
    df = spark.createDataFrame(rows, "tag string, line string")
    out = {r.tag: r for r in parse_json_robust(
        df, "line", "k long, s string").collect()}
    assert not out["ok-full"].is_bad and out["ok-full"].rec.k == 7 \
        and out["ok-full"].rec.s == "x"
    assert not out["ok-missing-field"].is_bad \
        and out["ok-missing-field"].rec.s is None
    for tag in ("corrupt-truncated", "corrupt-garbage", "json-null",
                "json-scalar"):
        assert out[tag].is_bad and out[tag].rec is None, tag
    assert not out["absent"].is_bad and out["absent"].rec is None


def test_read_jsonl_robust_quarantine_roundtrip(spark, tmp_path):
    import json
    from sparksketch.sources import read_jsonl_robust
    p = tmp_path / "feed.jsonl"
    good = [{"k": i, "s": f"v{i}"} for i in range(50)]
    bad = ['{"k": 3, "s"', "<<<binary junk>>>"]
    lines = [json.dumps(g) for g in good]
    lines[10:10] = bad  # splice corruption mid-file
    p.write_text("\n".join(lines) + "\n")
    out = read_jsonl_robust(spark, str(p), "k long, s string")
    assert out.filter("is_bad").count() == 2
    # quarantined raw lines are byte-identical to what was fed in
    assert sorted(r.line for r in out.filter("is_bad").collect()) == sorted(bad)
    parsed = out.filter("NOT is_bad").select("rec.*")
    assert parsed.count() == 50
    assert parsed.agg({"k": "sum"}).first()[0] == sum(g["k"] for g in good)


def test_table_diff_classifies_all_statuses(spark):
    from sparksketch.sources import table_diff
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k long, s string, v long")
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (5, "e", 50), (4, None, 40)],
        "k long, s string, v long")
    got = {r.k: r.status for r in table_diff(old, new, ["k"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   5: "added", 4: "unchanged"}  # NULL <=> NULL is equal
    # compare a subset of columns: v-only ignores the s change
    got_v = {r.k: r.status
             for r in table_diff(old, new, ["k"], ["v"]).collect()}
    assert got_v[2] == "unchanged"


def test_table_diff_validation(spark):
    import pytest as _pt
    from sparksketch.sources import table_diff
    df = spark.createDataFrame([(1, 2)], "k long, v long")
    with _pt.raises(ValueError, match="key"):
        table_diff(df, df, [])
    with _pt.raises(ValueError, match="absent"):
        table_diff(df, df, ["k"], ["nope"])


def test_table_diff_duplicate_key_guard(spark):
    import pytest as _pt
    from sparksketch.sources import table_diff
    old = spark.createDataFrame([(1, 10), (1, 20), (2, 30)], "k long, v long")
    new = spark.createDataFrame([(1, 10), (2, 30)], "k long, v long")
    with _pt.raises(ValueError, match="duplicate key on the old side"):
        table_diff(old, new, ["k"])
    # allow mode: pair-level fan-out, both statuses present for k=1
    got = sorted((r.k, r.status) for r in
                 table_diff(old, new, ["k"], on_duplicate="allow").collect())
    assert got == [(1, "changed"), (1, "unchanged"), (2, "unchanged")]
    with _pt.raises(ValueError, match="on_duplicate"):
        table_diff(new, new, ["k"], on_duplicate="maybe")


def test_json_bad_pred_sql_matches_spark(spark):
    """The oracle predicate must agree with parse_json_robust row-for-row
    on every probed edge shape, not just the testdata's clean objects."""
    import duckdb
    from sparksketch.sources import json_bad_pred_sql, parse_json_robust
    rows = [("arr", "[1]"), ("kstr", '{"k": "5"}'), ("kfloat", '{"k": 1.5}'),
            ("knull", '{"k": null}'), ("khuge", '{"k": 9223372036854775808}'),
            ("kbool", '{"k": true}'), ("kok", '{"k": 7}'), ("kmiss", '{}'),
            ("nested", '{"k": {"a": 1}}'), ("neg", '{"k": -3}'),
            ("junk", "{oops"), ("trunc", '{"k": 7, "s'), ("jnull", "null"),
            ("scal", "42"), ("absent", None)]
    df = spark.createDataFrame(rows, "tag string, line string")
    got = {r.tag: bool(r.is_bad)
           for r in parse_json_robust(df, "line", "k long").collect()}
    con = duckdb.connect()
    con.sql("CREATE TABLE t (tag VARCHAR, line VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.sql(
        f"SELECT tag, {json_bad_pred_sql('line')} FROM t").fetchall())
    assert got == {k: bool(v) for k, v in want.items()}
