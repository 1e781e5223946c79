"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build the cascading Bloom filter over sf0.001
customers and screen part keys through it (the "which keys are definitely
new?" query the reference exists for).

``queries()`` / ``oracle_sql()`` — one entry per operator from SURVEY.md §2
(sketches, dedup, similarity, text analysis, relational surface).  Where the
operator is deterministic-exact (CMS on small key spaces, Bloom screens with
an empirically-FP-free probe set, MD5 fingerprints, token/char counts,
cosine scores) the oracle reproduces the values; randomized-estimate
sketches (HLL, t-digest, KLL) emit *certificates* — the exact value computed
Spark-side plus a boolean "estimate within the published bound", which the
oracle pins to TRUE, so a broken sketch still fails the gate.  LSH-based
candidate generators (whose candidate sets are non-SQL-expressible) emit
certificates too: deterministic data-derived columns the oracle recomputes,
plus seed-fixed soundness/recall/accuracy booleans pinned TRUE — every query
is hash-checked, none are rows-only.
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from sparksketch.bloom import build_bloom, with_membership
from sparksketch.cms import CMS, cms_build, cms_by_group
from sparksketch.config import BloomConfig, Accuracy
from sparksketch.dedup import (
    connected_components,
    exact_dedup_ids,
    exact_jaccard,
    simhash,
    simhash_candidates,
)
from sparksketch.hll import HLL, HLL_SEED, hll_by_group, hll_distinct
from sparksketch.kll import kll_build
from sparksketch.sketch import estimate_col
from sparksketch.similarity import cosine_topk_df, embedding_near_dup_pairs
from sparksketch.tdigest import TDigest, tdigest_build, tdigest_by_group
from sparksketch.textstats import (
    bpe_ish_token_count,
    char_class_counts,
    fingerprint_md5,
    lang_id,
    quality_features,
    token_count,
)

_T = lambda spark, sf_dir, name: spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ====================================================================
# flagship
# ====================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Build the filter over sf0.001 customers, screen all part keys."""
    sf = "/root/testdata/sf0.001"
    cust = _T(spark, sf, "customer")
    part = _T(spark, sf, "part")
    state = build_bloom(cust, "c_custkey", BloomConfig(accuracy=Accuracy.HIGH),
                        n_shards=32, partitions=8)
    probes = part.select("p_partkey").distinct()
    return with_membership(probes, "p_partkey", state).orderBy("p_partkey")


# ====================================================================
# queries
# ====================================================================

def _bloom_zero_fn(spark: SparkSession, sf: str) -> DataFrame:
    cust = _T(spark, sf, "customer")
    state = build_bloom(cust, "c_custkey", BloomConfig(), n_shards=32, partitions=8)
    flagged = with_membership(cust.select("c_custkey"), "c_custkey", state)
    return flagged.agg(
        F.count("*").alias("n_keys"),
        F.sum(F.when(~F.col("is_member"), 1).otherwise(0)).cast("long").alias("false_negatives"),
    )


def _bloom_partkey_screen(spark: SparkSession, sf: str) -> DataFrame:
    # keys the filter rejects are GUARANTEED absent (zero FN); with the
    # deterministic seeds this probe set is also FP-free, so the screen
    # equals the exact anti-join the oracle computes.
    cust = _T(spark, sf, "customer")
    part = _T(spark, sf, "part")
    state = build_bloom(cust, "c_custkey", BloomConfig(accuracy=Accuracy.HIGH),
                        n_shards=32, partitions=8)
    probes = part.select("p_partkey").distinct()
    return (with_membership(probes, "p_partkey", state)
            .filter(~F.col("is_member")).select("p_partkey"))


def _bloom_join_brand_qty(spark: SparkSession, sf: str) -> DataFrame:
    # runtime-filter join: bloom over the SELECTIVE dim side's keys
    # prefilters the fact table before the shuffle join — zero FN makes the
    # prefilter semantically invisible (FPs are removed by the join itself),
    # so the result is unconditionally EXACT and the oracle is the plain
    # join.  At 100 TB this is the pattern that turns a full fact-table
    # shuffle into a shuffle of only the matching fraction.
    part = _T(spark, sf, "part").filter(F.col("p_size") < 10)
    li = _T(spark, sf, "lineitem")
    state = build_bloom(part, "p_partkey", BloomConfig(), n_shards=32, partitions=8)
    pre = with_membership(li.select("l_partkey", "l_quantity"),
                          "l_partkey", state).filter(F.col("is_member"))
    return (pre.join(part.select("p_partkey", "p_brand"),
                     pre.l_partkey == F.col("p_partkey"))
            .groupBy("p_brand")
            .agg(F.count("*").alias("n_items"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty")))


def _bloom_by_source_zero_fn(spark: SparkSession, sf: str) -> DataFrame:
    # per-group filters (bloom_by_group): every text of a source must be a
    # member of that source's filter — zero FN per group.  Fully distributed
    # certificate: broadcast the (group → blob) map, probe rows where they
    # live, reduce to one boolean per group (no full-table collect).
    from sparksketch.bloom import bloom_by_group, with_group_membership
    docs = _T(spark, sf, "documents")
    states = bloom_by_group(docs, "source", "text", BloomConfig(),
                            expected_keys_per_group=1000)
    flagged = with_group_membership(docs.select("source", "text"),
                                    "source", "text", states)
    return flagged.groupBy("source").agg(F.bool_and("is_member").alias("ok"))


def _hll_users_by_event_type(spark: SparkSession, sf: str) -> DataFrame:
    ev = _T(spark, sf, "events")
    p = 13
    states = hll_by_group(ev, "event_type", "user_id", p=p)
    est = states.withColumn("est", estimate_col(HLL)("state")).select("group", "est")
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    tol = 3 * HLL(p).rel_error()
    joined = exact.join(est, exact.event_type == est.group)
    return joined.select(
        "event_type", "n_exact",
        (F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact") <= tol).alias("hll_ok"),
    )


def _hll_cube_daily_users(spark: SparkSession, sf: str) -> DataFrame:
    # Materialized sketch-table pattern: ONE HLL state per (event_type, day)
    # cell, then a 10-day range query answered by MERGING the matching blobs
    # (sketch.rollup_states) — never rescanning the fact table.  At 100 TB
    # the cube is built once per ingest; every later slice/range distinct
    # query reads kilobyte blobs.  Certificate: the rolled-up state is
    # BYTE-IDENTICAL to a direct build over the equivalent fact slice
    # (register-max merge law ⇒ grouping is associative), and the estimate
    # sits within the published HLL band of the exact distinct.
    from sparksketch.sketch import rollup_states, sketch_cube
    ev = _T(spark, sf, "events").withColumn("day", F.to_date("ts").cast("string"))
    p = 13
    hll = lambda pid: HLL(p)
    lo, hi = "2024-01-05", "2024-01-14"
    cube = sketch_cube(ev, ["event_type", "day"], "user_id", hll, seeds=(HLL_SEED,))
    rolled = rollup_states(cube.filter(F.col("day").between(lo, hi)),
                           ["event_type"], HLL, hll)
    sel = ev.filter(F.col("day").between(lo, hi))
    direct = (hll_by_group(sel, "event_type", "user_id", p=p)
              .select(F.col("group").alias("dgroup"), F.col("state").alias("dstate")))
    exact = sel.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    tol = 3 * HLL(p).rel_error()
    est = estimate_col(HLL)("state")
    return (exact
            .join(rolled, "event_type")
            .join(direct, F.col("event_type") == F.col("dgroup"))
            .select("event_type", "n_exact",
                    (F.col("state") == F.col("dstate")).alias("merge_ok"),
                    (F.abs(est - F.col("n_exact")) / F.col("n_exact") <= tol)
                    .alias("hll_ok")))


def _hll_distinct_docs(spark: SparkSession, sf: str) -> DataFrame:
    docs = _T(spark, sf, "documents")
    est = hll_distinct(docs, "text", p=14)
    n_exact = docs.select(F.countDistinct("text")).first()[0]
    ok = abs(est - n_exact) / n_exact <= 3 * HLL(14).rel_error()
    return spark.createDataFrame([Row(n_exact=int(n_exact), hll_ok=bool(ok))],
                                 "n_exact long, hll_ok boolean")


def _cms_source_counts(spark: SparkSession, sf: str) -> DataFrame:
    docs = _T(spark, sf, "documents")
    sk = cms_build(docs, "source", d=5, w=8192)
    sources = [r.source for r in docs.select("source").distinct().collect()]
    rows = [Row(source=s, cnt=sk.query(s)) for s in sorted(sources)]
    return spark.createDataFrame(rows, "source string, cnt long")


def _cms_returnflag_counts(spark: SparkSession, sf: str) -> DataFrame:
    li = _T(spark, sf, "lineitem")
    sk = cms_build(li, "l_returnflag", d=5, w=8192)
    flags = [r.l_returnflag for r in li.select("l_returnflag").distinct().collect()]
    rows = [Row(l_returnflag=s, cnt=sk.query(s)) for s in sorted(flags)]
    return spark.createDataFrame(rows, "l_returnflag string, cnt long")


_QS = (0.01, 0.25, 0.5, 0.75, 0.99)


def _quantile_certificate(spark, df, col, sketch, tol: float) -> DataFrame:
    n = df.count()
    rows = []
    for q in _QS:
        est = float(sketch.quantile(q))
        rank = df.filter(F.col(col) <= est).count() / n
        rows.append(Row(q=float(q), ok=bool(abs(rank - q) <= tol)))
    return spark.createDataFrame(rows, "q double, ok boolean")


def _tdigest_value_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    ev = _T(spark, sf, "events")
    sk = tdigest_build(ev, "value", delta=200)
    return _quantile_certificate(spark, ev, "value", sk, tol=0.01)


def _kll_nchars_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    docs = _T(spark, sf, "documents")
    sk = kll_build(docs, "n_chars", k=200)
    return _quantile_certificate(spark, docs, "n_chars", sk, tol=0.02)


def _tdigest_median_by_event_type(spark: SparkSession, sf: str) -> DataFrame:
    # distributed certificate: broadcast-join the per-group median estimates
    # back onto the rows, then ONE grouped rank aggregation (no per-group
    # driver loop of Spark jobs)
    ev = _T(spark, sf, "events")
    states = tdigest_by_group(ev, "event_type", "value", delta=200)
    med = (states.withColumn("med", estimate_col(TDigest, "quantile", (0.5,))("state"))
           .select(F.col("group").alias("event_type"), "med"))
    joined = ev.join(F.broadcast(med), "event_type")
    rank = (F.sum(F.when(F.col("value") <= F.col("med"), 1).otherwise(0))
            / F.count("*"))
    return joined.groupBy("event_type").agg(
        (F.abs(rank - 0.5) <= 0.05).alias("ok"))


def _dedup_exact_documents(spark: SparkSession, sf: str) -> DataFrame:
    return exact_dedup_ids(_T(spark, sf, "documents"), "text", "doc_id")


def _shared_kgram_docs(spark: SparkSession, sf: str) -> DataFrame:
    # exact cross-document substring overlap (shared 24-char grams, hot-gram
    # cap 64) — gram_key="exact" makes the result collision-free and the
    # oracle an exact ANSI-SQL mirror (Spark substring(t,i,k) ≡ DuckDB
    # t[i:i+k-1]); the scale path shuffles xxhash64 gram keys instead and
    # is pytest-pinned equal on this corpus
    from sparksketch.dedup import shared_kgram_pairs
    return shared_kgram_pairs(_T(spark, sf, "documents"), "text", "doc_id",
                              k=24, max_gram_docs=64, gram_key="exact")


def _kgram_dup_stats_docs(spark: SparkSession, sf: str) -> DataFrame:
    # per-document duplicated-span accounting (first-occurrence winners at
    # 24-char gram granularity) — the linear-output corpus-scale form of
    # shared_kgram_docs; exact mode for collision-free ANSI-SQL parity
    from sparksketch.dedup import kgram_dup_stats
    return kgram_dup_stats(_T(spark, sf, "documents"), "text", "doc_id",
                           k=24, gram_key="exact")


def _set_sim_docs(spark: SparkSession, sf: str) -> DataFrame:
    # EXACT token-set Jaccard self-join at τ=0.8 via prefix filtering
    # (rarest-first global token order), reduced to per-document neighbor
    # accounting (linear output) — the oracle recomputes the full
    # token-equi-join ground truth, so any pair the prefix filter missed
    # would hash-mismatch; integer cross-multiplied threshold (τ‰·union)
    # keeps the boundary engine-exact
    from sparksketch.dedup import set_sim_doc_stats
    return set_sim_doc_stats(_T(spark, sf, "documents"), "text", "doc_id",
                             threshold=0.8)


def _token_counts(spark: SparkSession, sf: str) -> DataFrame:
    docs = _T(spark, sf, "documents")
    return docs.select("doc_id", token_count("text").alias("n_tokens"))


def _char_class_counts(spark: SparkSession, sf: str) -> DataFrame:
    return char_class_counts(_T(spark, sf, "documents"))


def _lang_id_documents(spark: SparkSession, sf: str) -> DataFrame:
    return lang_id(_T(spark, sf, "documents")).select("doc_id", "lang_pred")


def _fingerprint_documents(spark: SparkSession, sf: str) -> DataFrame:
    docs = _T(spark, sf, "documents")
    return docs.select("doc_id", fingerprint_md5("text").alias("fp"))


def _cosine_topk_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    emb = _T(spark, sf, "embeddings")
    q = np.array(emb.filter(F.col("vec_id") == 0).first().embedding, dtype=np.float64)
    return cosine_topk_df(emb, "embedding", "vec_id", q, k=10, round_to=4)


def _knn_join_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    # batch k-NN: top-5 cosine neighbors for each of the first 10 vectors
    # (queries kept in-corpus, so rank 1 is the self hit at sim 1.0 — exact
    # and oracle-mirrorable); ranking happens pre-round on float64 scores
    from sparksketch.similarity import knn_join
    emb = _T(spark, sf, "embeddings")
    out = knn_join(emb, "embedding", "vec_id",
                   queries=emb.filter(F.col("vec_id") < 10), k=5)
    return out.select("q_id", "nb_id", F.round("sim", 4).alias("sim"))


def _cosine_pairs(spark: SparkSession, sf: str) -> DataFrame:
    emb = _T(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform("va", lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform("vb", lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    sim = F.round(dot / (na * nb), 4)
    return (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", sim.alias("sim"))
            .filter(F.col("sim") >= 0.3))


def _minhash_neardup_docs(spark: SparkSession, sf: str) -> DataFrame:
    # estimator-accuracy certificate over the REAL LSH pipeline: for every
    # band-bucket candidate pair, the signature-estimated Jaccard must sit
    # within 0.4 of the exact char-5-gram Jaccard.  Hoeffding with 64
    # permutations: P(|est − J| ≥ 0.4) ≤ 2·exp(−2·64·0.4²) ≈ 3e−9 per pair;
    # the run is seed-fixed, so the boolean is deterministic (measured max
    # deviation: 0.113 over 28 candidates at sf0.01, 0.259 over 526 at
    # sf0.1 — a broken permutation/banding shows up as ~0.5–1.0).  ok also
    # requires a non-empty candidate set so a silently-empty pipeline cannot
    # pass vacuously.  The candidate SET itself is not SQL-expressible; the
    # oracle pins (n_docs, TRUE).
    from sparksketch.dedup import lsh_candidates, minhash_signatures, signature_jaccard
    docs = _T(spark, sf, "documents")
    sig = minhash_signatures(docs, "text", "doc_id").cache()
    cands = lsh_candidates(sig, "doc_id").cache()
    est = signature_jaccard(cands, sig, "doc_id")
    ex = exact_jaccard(cands, docs, "text", "doc_id")
    j = est.join(ex, ["id_a", "id_b"])
    row = j.agg(
        F.count("*").alias("n"),
        F.max(F.abs(F.col("est_jaccard") - F.col("jaccard"))).alias("mx"),
    ).first()
    ok = row.n > 0 and float(row.mx) <= 0.4
    n_docs = docs.count()
    return spark.createDataFrame([Row(n_docs=int(n_docs), ok=bool(ok))],
                                 "n_docs long, ok boolean")


def _simhash_docs(spark: SparkSession, sf: str) -> DataFrame:
    # per-doc determinism certificate: simhash is a sum of per-token bit
    # votes, so it must be invariant to (a) token ORDER and (b) the Arrow
    # batch slicing that a different partitioning produces.  Side two
    # reverses every doc's token order AND repartitions before hashing; the
    # signatures must match bit-for-bit.  The signature VALUE is not
    # SQL-expressible (Spark xxhash64 token hashes); the oracle pins one
    # TRUE per doc_id, making this a 500-row hash-checked certificate.
    docs = _T(spark, sf, "documents")
    big = 1 << 20  # no truncation on either side (reversal moves chars across any cap)
    s1 = simhash(docs, "text", "doc_id", max_chars=big)
    rev = docs.select(
        "doc_id",
        F.concat_ws(" ", F.reverse(F.split(F.lower(F.trim("text")), r"\s+"))).alias("text"),
    ).repartition(17)
    s2 = (simhash(rev, "text", "doc_id", max_chars=big)
          .withColumnRenamed("simhash", "simhash_rev"))
    return (s1.join(s2, "doc_id")
            .select("doc_id", (F.col("simhash") == F.col("simhash_rev")).alias("ok")))


def _exact_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # deterministic candidate set (consecutive doc_ids) so the oracle can
    # reproduce the exact char-5-gram Jaccard with list_intersect/
    # list_distinct; the hashed-shingle sets map 1:1 to the string-shingle
    # sets absent 64-bit collisions (negligible at this scale)
    docs = _T(spark, sf, "documents")
    ids = docs.select(F.col("doc_id").alias("id_a"),
                      (F.col("doc_id") + 1).alias("id_b"))
    pairs = ids.join(docs.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
    return exact_jaccard(pairs, docs, "text", "doc_id").select("id_a", "id_b", "jaccard")


def _dedup_components_docs(spark: SparkSession, sf: str) -> DataFrame:
    # duplicate-cluster resolution over a deterministic candidate graph:
    # edges between same-source docs within id-distance 25 (an LSH-shaped
    # banded self-join).  On this corpus every source is one LONG CHAIN
    # (round-robin sources, constant gap 20) — the adversarial diameter case
    # the O(log n) star algorithm exists for.  The oracle reproduces the
    # transitive closure as per-source gaps-and-islands.
    docs = _T(spark, sf, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    pairs = (a.join(b, (F.col("id_b") > F.col("id_a"))
                    & (F.col("id_b") <= F.col("id_a") + 25)
                    & (F.col("sa") == F.col("sb")))
             .select("id_a", "id_b"))
    comp = connected_components(pairs, nodes=docs.select("doc_id"))
    return comp.select(F.col("id").alias("doc_id"), "component")


def _quality_features_docs(spark: SparkSession, sf: str) -> DataFrame:
    docs = _T(spark, sf, "documents")
    return quality_features(docs).select(
        "doc_id", "n_chars_t", "n_tokens", "mean_token_len", "alpha_ratio",
        "digit_ratio", "space_ratio", "punct_ratio", "stopword_ratio",
        "quality_score",
    )


def _bpe_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    docs = _T(spark, sf, "documents")
    return docs.select("doc_id", bpe_ish_token_count("text").alias("n_bpe_tokens"))


def _decontam_documents(spark: SparkSession, sf: str) -> DataFrame:
    # benchmark decontamination: Bloom over the benchmark's 30-char shingles
    # (zero FN ⇒ contaminated docs never slip through), per-doc hit ratio ≥
    # 0.5 flags.  Ratios on this corpus are bimodal (≈0 or ≈1), so the tiny
    # FP inflation cannot flip a flag and the oracle reproduces the flags
    # exactly via shingle-set joins.
    from sparksketch.decontam import benchmark_filter, contamination
    docs = _T(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    state = benchmark_filter(bench, "text", shingle=30, n_shards=8, partitions=8)
    return contamination(docs, "text", "doc_id", state, shingle=30,
                         threshold=0.5).select("doc_id", "contaminated")


def _hash_split_documents(spark: SparkSession, sf: str) -> DataFrame:
    # deterministic content-keyed train/val/test split: md5-hex-prefix
    # thresholds compared as strings — reproducible in any engine
    from sparksketch.decontam import hash_split
    docs = _T(spark, sf, "documents")
    return hash_split(docs, "text", {"train": 0.8, "val": 0.1, "test": 0.1}) \
        .select("doc_id", "split")


def _heavy_hitters_sources(spark: SparkSession, sf: str) -> DataFrame:
    # k=64 > 20 distinct sources → Misra-Gries is EXACT (no evictions, dec=0)
    # and the oracle is a plain GROUP BY; the eviction/bound path is covered
    # by pytest on the Zipf host corpus
    from sparksketch.topk import heavy_hitters
    docs = _T(spark, sf, "documents")
    sk = heavy_hitters(docs, "source", k=64)
    assert sk.error_bound() == 0
    rows = [Row(source=s, cnt=c) for s, c in sk.topk()]
    return spark.createDataFrame(rows, "source string, cnt long")


def _cms_min_user_by_event_type(spark: SparkSession, sf: str) -> DataFrame:
    # certificate for the per-group CMS: probe each group's min user_id; the
    # CMS bound (Cormode–Muthukrishnan) pins exact ≤ est ≤ exact + ⌈εN⌉
    ev = _T(spark, sf, "events")
    d, w = 5, 8192
    states = cms_by_group(ev, "event_type", "user_id", d=d, w=w)
    mins = ev.groupBy("event_type").agg(F.min("user_id").alias("_u"))
    exact = (ev.join(mins, "event_type")
             .filter(F.col("user_id") == F.col("_u"))
             .groupBy("event_type").agg(F.count("*").alias("n_exact"),
                                        F.first("_u").alias("_u")))
    sketches = {r.group: CMS.from_bytes(bytes(r.state)) for r in states.collect()}
    rows = []
    for r in exact.collect():
        sk = sketches[r.event_type]
        est = sk.query(str(r._u))
        ok = r.n_exact <= est <= r.n_exact + math.ceil(sk.error_bound())
        rows.append(Row(event_type=r.event_type, n_exact=int(r.n_exact), ok=bool(ok)))
    return spark.createDataFrame(sorted(rows), "event_type string, n_exact long, ok boolean")


def _simhash_complete_check(spark: SparkSession, sf: str) -> DataFrame:
    # pigeonhole completeness certificate: 4×16-bit block banding must find
    # EXACTLY the pairs within Hamming distance 3 (≤3 flipped bits leave ≥1
    # block untouched).  Both sides are restricted to the deterministic
    # id-window |id_b − id_a| ≤ 100 so the ground truth is a banded
    # self-join — O(n·W) rows, never an O(n²) crossJoin — and the
    # certificate keeps the same cost shape if the driver raises sf.
    # max_bucket is lifted above the corpus size so the claim stays an exact
    # set equality (the cap's bounded-memory behavior has its own pytest);
    # BOTH sides therefore run on a fixed-size doc_id prefix (N_CERT) so the
    # uncapped enumeration stays bounded even if the driver raises sf and
    # the corpus carries a large duplicate-text cluster (worst case is
    # N_CERT²/2 pair structs in one bucket row, constant in sf).
    W_IDS = 100
    N_CERT = 2000
    docs = _T(spark, sf, "documents")
    sim = simhash(docs, "text", "doc_id").filter(F.col("doc_id") < N_CERT).cache()
    banded = (simhash_candidates(sim, "doc_id", max_hamming=3, max_bucket=1 << 30)
              .filter(F.col("id_b") - F.col("id_a") <= W_IDS))
    # bucket ids by W so the range join is TWO equi-joins (own bucket +
    # successor bucket) instead of a nested-loop theta join — O(n·W) rows
    # AND O(n·W) compute
    a = sim.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"),
                   F.floor(F.col("doc_id") / W_IDS).alias("bkt"))
    b = sim.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"),
                   F.floor(F.col("doc_id") / W_IDS).alias("bkt"))
    cand = a.join(b, "bkt").unionByName(
        a.withColumn("bkt", F.col("bkt") + 1).join(b, "bkt"))
    brute = (cand.filter((F.col("id_b") > F.col("id_a"))
                         & (F.col("id_b") <= F.col("id_a") + W_IDS))
             .filter(F.expr("bit_count(sh_a ^ sh_b)") <= 3)
             .select("id_a", "id_b"))
    n_banded = banded.count()
    n_brute = brute.count()
    n_docs = docs.count()
    return spark.createDataFrame(
        [Row(n_docs=int(n_docs), ok=bool(n_banded == n_brute))],
        "n_docs long, ok boolean")


def _embedding_neardup_lsh(spark: SparkSession, sf: str) -> DataFrame:
    # soundness + recall certificate for the sign-LSH near-dup pipeline
    # (driver embeddings are near-random — max foreign cosine ≈ 0.37 — so
    # the threshold sits where the data actually has pairs):
    #   n_exact_pairs — exact count of cosine-≥-0.3 pairs, which the oracle
    #     recomputes in SQL (the hard, data-derived column);
    #   subset_ok    — every emitted pair really is ≥ threshold (checked
    #     against a 0.297 double-precision margin set: the kernel filters in
    #     float32, so a boundary pair may sit ~1e-6 below 0.3 in double);
    #   recall_ok    — emitted ∩ exact covers ≥ 15% of the exact set.  With
    #     8 tables × 6 planes, per-pair collision at cos 0.3 (θ ≈ 72.5°) is
    #     1−(1−(1−θ/π)^6)^8 ≈ 0.31; the run is seed-fixed (measured recall
    #     0.330 at sf0.01, 0.343 at sf0.1), so the boolean is deterministic.
    emb = _T(spark, sf, "embeddings")
    emitted = embedding_near_dup_pairs(emb, "embedding", "vec_id",
                                       threshold=0.3, n_planes=6, n_tables=8).cache()
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform("va", lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform("vb", lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    allp = (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", (dot / (na * nb)).alias("sim")).cache())
    exact = allp.filter(F.round("sim", 4) >= 0.3)
    margin = allp.filter(F.col("sim") >= 0.297)
    n_exact = exact.count()
    n_outside = emitted.join(margin, ["id_a", "id_b"], "left_anti").count()
    n_overlap = emitted.join(exact, ["id_a", "id_b"], "left_semi").count()
    return spark.createDataFrame(
        [Row(n_exact_pairs=int(n_exact), subset_ok=bool(n_outside == 0),
             recall_ok=bool(n_exact > 0 and n_overlap / n_exact >= 0.15))],
        "n_exact_pairs long, subset_ok boolean, recall_ok boolean")


def _kmeans_clusters_emb(spark: SparkSession, sf: str) -> DataFrame:
    # distributed spherical k-means certificate (sparksketch/clustering.py):
    #   descent_ok   — Lloyd's invariant: the per-iteration assignment-cost
    #     sequence is monotone non-increasing (1e-6 relative float slack);
    #   conserved_ok — every vector lands in exactly one cluster's
    #     sufficient statistics (fold total == table count);
    #   cover_ok     — all k clusters non-empty after the fit (maximin init
    #     over these spread-out embeddings; seed-fixed, deterministic for
    #     the fixed testdata partitioning).
    # n_points is the data-derived column the oracle recomputes exactly.
    from sparksketch.clustering import kmeans_fit, with_cluster
    emb = _T(spark, sf, "embeddings")
    res = kmeans_fit(emb, "embedding", k=8, iters=6, seed=5)
    assigned = with_cluster(emb, "embedding", res.centroids)
    nonempty = assigned.select("cluster").distinct().count()
    n_rows = emb.count()
    return spark.createDataFrame(
        [Row(n_points=int(res.n), descent_ok=bool(res.monotone()),
             conserved_ok=bool(res.n == n_rows),
             cover_ok=bool(nonempty == 8))],
        "n_points long, descent_ok boolean, conserved_ok boolean, cover_ok boolean")


def _semantic_dedup_emb(spark: SparkSession, sf: str) -> DataFrame:
    # SemDeDup certificate: plant EXACT duplicates (vec_id+10000, same
    # vector) of every vec_id < 40 — base embeddings are near-random (max
    # foreign cosine ≈ 0.37), so the global cosine-≥-0.9 pair set IS the
    # planted set, and the operator must emit exactly those pairs even
    # though it only compares within k-means clusters (identical vectors
    # cannot straddle an argmax decision boundary).
    #   sound_ok    — every emitted pair's exact double cosine ≥ 0.9;
    #   complete_ok — every planted pair is emitted;
    #   n_pairs     — emitted count == count(vec_id < 40), oracle-derived;
    #   n_kept      — semantic_dedup survivors == original row count (the
    #     min-id representative of each planted pair is the original).
    from sparksketch.clustering import kmeans_fit, semantic_dedup_pairs
    from sparksketch.dedup import dedup_representatives
    emb = _T(spark, sf, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    both = emb.unionByName(planted)
    cents = kmeans_fit(both, "embedding", k=8, iters=4, seed=5).centroids
    pairs = semantic_dedup_pairs(both, "embedding", "vec_id", threshold=0.9,
                                 centroids=cents).cache()
    e = both.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform("va", lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform("vb", lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    rechecked = (pairs.join(a, "id_a").join(b, "id_b")
                 .select((dot / (na * nb)).alias("sim")))
    n_unsound = rechecked.filter(F.col("sim") < 0.9 - 1e-9).count()
    n_pairs = pairs.count()
    expected = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("id_a"), (F.col("vec_id") + 10000).alias("id_b"))
    n_missing = expected.join(pairs, ["id_a", "id_b"], "left_anti").count()
    # representative resolution over the cached pairs — the same composition
    # semantic_dedup() performs, without refitting k-means a second time
    n_kept = dedup_representatives(both, pairs, "vec_id").count()
    return spark.createDataFrame(
        [Row(n_pairs=int(n_pairs), n_kept=int(n_kept),
             sound_ok=bool(n_unsound == 0), complete_ok=bool(n_missing == 0))],
        "n_pairs long, n_kept long, sound_ok boolean, complete_ok boolean")


def _pq_adc_topk_emb(spark: SparkSession, sf: str) -> DataFrame:
    # product-quantization certificate (sparksketch/pq.py): train 8x16
    # codebooks (64-dim -> 8-byte codes, 32x compression), encode, then the
    # standard two-stage query — ADC shortlist over codes + exact rerank.
    #   descent_ok — joint-subspace Lloyd cost monotone non-increasing;
    #   recall_ok  — two-stage top-10 recovers >= 7 of the exact-L2 top-10
    #     (measured 9-10/10 at all three SFs with this seed; near-random
    #     64-dim vectors are PQ's worst case, hence the rerank stage);
    #   n_points / n_codes — encode preserves cardinality, oracle-exact.
    from sparksketch.pq import pq_encode, pq_topk_rerank, pq_train
    emb = _T(spark, sf, "embeddings")
    model = pq_train(emb, "embedding", m_sub=8, k=16, iters=6, seed=7)
    enc = pq_encode(emb, "embedding", model).cache()
    n_codes = enc.count()
    q = np.array(emb.filter(F.col("vec_id") == 0).first().embedding,
                 dtype=np.float32)
    got = {r.vec_id for r in pq_topk_rerank(
        enc, "embedding", "vec_id", model, q, k=10, shortlist=100).collect()}
    qarr = F.array(*[F.lit(float(x)) for x in q.astype(np.float64)])
    dist = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), qarr,
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)
    true10 = {r.vec_id for r in (emb.select("vec_id", dist.alias("d"))
                                 .orderBy("d", "vec_id").limit(10).collect())}
    return spark.createDataFrame(
        [Row(n_points=int(emb.count()), n_codes=int(n_codes),
             descent_ok=bool(model.monotone()),
             recall_ok=bool(len(got & true10) >= 7))],
        "n_points long, n_codes long, descent_ok boolean, recall_ok boolean")


def _ivfpq_topk_emb(spark: SparkSession, sf: str) -> DataFrame:
    # IVFPQ certificate (sparksketch/pq.py): L2 coarse quantizer (8 lists)
    # + residual PQ (8x16 -> 8-byte codes), then the pruned two-stage query.
    #   descent_ok — residual-codebook Lloyd cost monotone non-increasing;
    #   self_ok    — with only n_probe=2 of 8 lists scanned, the query's own
    #     vector comes back at rank 1 (its home list is the top probe and
    #     the rerank stage computes its exact distance, 0);
    #   recall_ok  — full-probe two-stage top-10 recovers >= 7 of the
    #     exact-L2 top-10 (same band as pq_adc_topk_emb; residual codes
    #     resolve finer than raw-vector codes, measured 9-10/10);
    #   n_points / n_codes — encode preserves cardinality, oracle-exact.
    from sparksketch.pq import (coarse_centroids_l2, ivfpq_topk_rerank,
                                pq_encode, pq_train)
    emb = _T(spark, sf, "embeddings")
    coarse = coarse_centroids_l2(emb, "embedding", n_lists=8, seed=11)
    model = pq_train(emb, "embedding", m_sub=8, k=16, iters=6, seed=7,
                     coarse=coarse)
    enc = pq_encode(emb, "embedding", model, coarse=coarse).cache()
    n_codes = enc.count()
    q = np.array(emb.filter(F.col("vec_id") == 0).first().embedding,
                 dtype=np.float32)
    pruned = ivfpq_topk_rerank(enc, "embedding", "vec_id", model, coarse, q,
                               k=1, n_probe=2, shortlist=100).collect()
    self_ok = bool(pruned and pruned[0].vec_id == 0 and pruned[0].dist == 0.0)
    got = {r.vec_id for r in ivfpq_topk_rerank(
        enc, "embedding", "vec_id", model, coarse, q,
        k=10, n_probe=8, shortlist=100).collect()}
    qarr = F.array(*[F.lit(float(x)) for x in q.astype(np.float64)])
    dist = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), qarr,
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)
    true10 = {r.vec_id for r in (emb.select("vec_id", dist.alias("d"))
                                 .orderBy("d", "vec_id").limit(10).collect())}
    return spark.createDataFrame(
        [Row(n_points=int(emb.count()), n_codes=int(n_codes),
             descent_ok=bool(model.monotone()), self_ok=self_ok,
             recall_ok=bool(len(got & true10) >= 7))],
        "n_points long, n_codes long, descent_ok boolean, self_ok boolean, "
        "recall_ok boolean")


def _ivfpq_knn_join_emb(spark: SparkSession, sf: str) -> DataFrame:
    # batch compressed-ANN join certificate (sparksketch/pq.py
    # ivfpq_knn_join): 20 queries x top-5 over the full-probe code table.
    #   n_queries / n_pairs — exactly 20 queries and 20*5 result rows
    #     (every query gets a full top-k), oracle-exact;
    #   self_ok   — every query's rank-1 neighbor is itself: its exact
    #     rerank distance is 0, and it enters the shortlist because its
    #     ADC distance is its own residual quantization error — far below
    #     the inter-point distances of this corpus at every SF;
    #   recall_ok — two-stage top-5 (ADC shortlist + exact rerank,
    #     pq.ivfpq_knn_join_rerank) vs the exact-L2 top-5 (crossJoin
    #     ground truth, the certificate-only exception to the
    #     no-crossJoin rule) overlaps >= 75 of 100 slots (measured 92-99;
    #     the bar leaves 17+ slots of room for host-to-host k-means jitter
    #     in the coarse quantizer).  The shortlist
    #     scales with the corpus (n/32, floor 100) — a FIXED shortlist is
    #     a shrinking fraction as SF grows and the certificate would decay
    #     into noise (the round-5 data-driven-threshold lesson); k=64
    #     codebooks (finer than pq_adc_topk_emb's 16: batch recall is the
    #     thing this certificate pins); measured 96 / 99 / 92 at
    #     sf0.001 / 0.01 / 0.1.
    from sparksketch.pq import (coarse_centroids_l2, ivfpq_knn_join_rerank,
                                pq_encode, pq_train)
    emb = _T(spark, sf, "embeddings")
    coarse = coarse_centroids_l2(emb, "embedding", n_lists=8, seed=11)
    model = pq_train(emb, "embedding", m_sub=8, k=64, iters=6, seed=7,
                     coarse=coarse)
    enc = pq_encode(emb, "embedding", model, coarse=coarse,
                    keep=["vec_id"]).cache()
    queries = emb.filter(F.col("vec_id") < 20)
    shortlist = max(100, int(enc.count()) // 32)
    got = ivfpq_knn_join_rerank(enc, emb, "embedding", "vec_id", model,
                                coarse, queries, k=5, n_probe=8,
                                shortlist=shortlist).collect()
    by_q: dict[int, list[int]] = {}
    for r in sorted(got, key=lambda r: (r.q_id, r.dist, r.nb_id)):
        by_q.setdefault(r.q_id, []).append(r.nb_id)
    self_ok = (len(by_q) == 20 and
               all(v[0] == q for q, v in by_q.items()))
    # exact-L2 ground truth: 20 x n crossJoin (ground truth only)
    q_side = queries.select(F.col("vec_id").alias("q_id"),
                            F.col("embedding").cast("array<double>").alias("qv"))
    c_side = emb.select(F.col("vec_id").alias("nb_id"),
                        F.col("embedding").cast("array<double>").alias("cv"))
    d = F.aggregate(F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, v: acc + v)
    w = W.partitionBy("q_id").orderBy("d", "nb_id")
    truth = (q_side.crossJoin(c_side).select("q_id", "nb_id", d.alias("d"))
             .withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= 5).collect())
    true_by_q: dict[int, set] = {}
    for r in truth:
        true_by_q.setdefault(r.q_id, set()).add(r.nb_id)
    overlap = sum(len(set(v) & true_by_q[q]) for q, v in by_q.items())
    return spark.createDataFrame(
        [Row(n_queries=len(by_q), n_pairs=len(got),
             self_ok=bool(self_ok), recall_ok=bool(overlap >= 75))],
        "n_queries long, n_pairs long, self_ok boolean, recall_ok boolean")


_MIX_FRACTIONS = {"src0": 0.2, "src1": 0.5, "src2": 0.0}


def _stratified_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    # deterministic training-mix rebalancing: per-source keep fractions via
    # salted md5 thresholds; pure pushed-down predicate, zero shuffle
    from sparksketch.decontam import stratified_sample
    docs = _T(spark, sf, "documents")
    return stratified_sample(docs, "source", "doc_id", _MIX_FRACTIONS,
                             default=0.8).select("doc_id", "source")


def _range_join_events(spark: SparkSession, sf: str) -> DataFrame:
    # band join: purchases within 10 minutes of a click by the same user —
    # integer epoch-micros band, so the boundary is bit-exact cross-engine
    from sparksketch.events import range_join
    ev = _T(spark, sf, "events")
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts")
    purch = ev.filter("event_type = 'purchase'").select("user_id", "ts")
    out = range_join(clicks, purch, "user_id", "ts", 600)
    return out.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("click_us"),
        F.unix_micros(F.col("ts_r").cast("timestamp")).alias("purchase_us"))


def _interval_join_events(spark: SparkSession, sf: str) -> DataFrame:
    # point-in-interval: purchases inside click-anchored [ts, ts+10min]
    # windows for the same user; inclusive integer-micros boundaries
    from sparksketch.events import interval_join
    ev = _T(spark, sf, "events")
    purch = ev.filter("event_type = 'purchase'").select("user_id", "ts")
    wins = (ev.filter("event_type = 'click'")
            .select("user_id", F.col("ts").alias("w_start"),
                    (F.col("ts") + F.expr("INTERVAL 600 SECONDS")).alias("w_end")))
    out = interval_join(purch, wins, "user_id", "ts", "w_start", "w_end",
                        max_len_seconds=600)
    return out.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("purchase_us"),
        F.unix_micros(F.col("w_start").cast("timestamp")).alias("click_us"))


def _funnel_depth_events(spark: SparkSession, sf: str) -> DataFrame:
    # view -> click -> purchase funnel per user, strictly-increasing ts;
    # the oracle reproduces greedy-earliest matching as a min() cascade
    from sparksketch.events import funnel_depth
    ev = _T(spark, sf, "events")
    return funnel_depth(ev, "user_id", "ts", "event_type",
                        ["view", "click", "purchase"])


def _theta_user_overlap(spark: SparkSession, sf: str) -> DataFrame:
    # set-operation certificate: Theta sketches of click-users and
    # view-users, intersection/union/difference estimates each within
    # 4/sqrt(k) relative error of the exact SQL answer (k=4096 -> RSE
    # ~1.6%, margin ~6.3%; fixed hash seed makes the booleans stable).
    # n_exact_inter is the hard data-derived column the oracle recomputes.
    from sparksketch.theta import (difference_estimate, intersection_estimate,
                                   theta_build, union_estimate)
    ev = _T(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    tc = theta_build(clicks, "user_id", k=4096)
    tv = theta_build(views, "user_id", k=4096)
    exact_i = clicks.intersect(views).count()
    exact_u = clicks.union(views).distinct().count()
    exact_d = clicks.distinct().exceptAll(views.distinct()).count()
    # KMV intersection/difference error scales with the UNION-sized sample
    # (the retained hashes cover the union), so every margin is relative to
    # exact_u — a small intersection can legitimately miss a band scaled to
    # its own size, and that near-miss would be corpus-dependent.
    m = 4.0 / math.sqrt(4096)
    band = m * max(exact_u, 1)
    ok = (abs(intersection_estimate(tc, tv) - exact_i) <= band
          and abs(union_estimate(tc, tv) - exact_u) <= band
          and abs(difference_estimate(tc, tv) - exact_d) <= band)
    return spark.createDataFrame(
        [Row(n_exact_inter=int(exact_i), ok=bool(ok))],
        "n_exact_inter long, ok boolean")


def _ams_f2_users(spark: SparkSession, sf: str) -> DataFrame:
    # second-moment certificate: the AMS/Count-Sketch F2 estimate (the
    # self-join size / skew statistic) within the 4/sqrt(w) median band of
    # the exact sum of squared counts (fixed seed -> stable boolean)
    from sparksketch.ams import ams_build
    ev = _T(spark, sf, "events")
    sk = ams_build(ev, "user_id", d=5, w=8192)
    exact = (ev.filter("user_id IS NOT NULL").groupBy("user_id").count()
             .agg(F.sum(F.col("count") * F.col("count"))).first()[0])
    ok = abs(sk.f2_estimate() - exact) <= sk.rel_error() * exact
    return spark.createDataFrame(
        [Row(f2_exact=int(exact), ok=bool(ok))], "f2_exact long, ok boolean")


def _ams_join_size(spark: SparkSession, sf: str) -> DataFrame:
    # join-size certificate: the inner product of two independently-built
    # AMS sketches (clicks x views on user_id) within the
    # 4*sqrt(F2_c*F2_v)/sqrt(w) band of the exact join cardinality
    from sparksketch.ams import ams_build
    ev = _T(spark, sf, "events")
    clicks = ev.filter("event_type = 'click' AND user_id IS NOT NULL").select("user_id")
    views = ev.filter("event_type = 'view' AND user_id IS NOT NULL").select("user_id")
    sc = ams_build(clicks, "user_id", w=8192)
    sv = ams_build(views, "user_id", w=8192)
    exact = clicks.join(views, "user_id").count()
    margin = sc.rel_error() * math.sqrt(sc.f2_estimate() * sv.f2_estimate())
    ok = abs(sc.inner_product(sv) - exact) <= margin
    return spark.createDataFrame(
        [Row(n_join_exact=int(exact), ok=bool(ok))],
        "n_join_exact long, ok boolean")


def _fd_embeddings_cov(spark: SparkSession, sf: str) -> DataFrame:
    # matrix-sketch certificate: Frequent Directions over the embedding
    # column must satisfy its deterministic spectral guarantee against the
    # exact Gram matrix — 0 ⪯ AᵀA − BᵀB ⪯ Δ·I with the exactly-tracked
    # Δ ≤ ‖A‖_F²/ℓ (no randomness anywhere, so the boolean is stable).
    # n_vecs/dim are the hard data-derived columns the oracle recomputes.
    from sparksketch.fd import exact_gram, fd_build
    emb = _T(spark, sf, "embeddings")
    # dim = max vector length, mirrored in the oracle's len() filter so
    # both sides count exactly the same rows even on a ragged table
    d = int(emb.agg(F.max(F.size("embedding"))).first()[0])
    fd = fd_build(emb, "embedding", ell=16, dim=d)
    G = exact_gram(emb, "embedding", dim=d)
    ev = np.linalg.eigvalsh(G - fd.cov())
    tol = 1e-6 * fd.fro2
    ok = (ev[0] >= -tol and ev[-1] <= fd.cov_error_bound() + tol
          and fd.cov_error_bound() <= fd.worst_case_bound() + tol)
    return spark.createDataFrame(
        [Row(n_vecs=int(fd.n), dim=int(fd.d), ok=bool(ok))],
        "n_vecs long, dim int, ok boolean")


def _kll_bucketize_events(spark: SparkSession, sf: str) -> DataFrame:
    # equi-depth certificate: bucketize events.value into 8 KLL-quantile
    # buckets; every bucket's population must sit within 3% of N, i.e.
    # N/8 ± 0.03N ≈ ±2.4x the k=200 rank error bound (deterministic
    # per-partition seeds make the boolean stable).  The oracle pins all
    # 8 (bucket, TRUE) rows.
    from sparksketch.kll import bucketize
    ev = _T(spark, sf, "events").select(
        F.col("value").cast("double").alias("v")).filter("v IS NOT NULL")
    out, _bounds = bucketize(ev, "v", n_buckets=8)
    n = ev.count()
    return (out.groupBy("bucket").count()
            .select(F.col("bucket").cast("int").alias("bucket"),
                    (F.abs(F.col("count") - F.lit(n / 8.0)) <= 0.03 * n).alias("ok")))


def _quota_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    # absolute per-source caps: exactly 12 docs per source, picked by
    # salted-md5 rank (uniform without replacement, engine-invariant)
    from sparksketch.decontam import quota_sample
    docs = _T(spark, sf, "documents")
    return quota_sample(docs, "source", "doc_id", 12,
                        n_buckets=4).select("doc_id", "source")


def _profile_documents(spark: SparkSession, sf: str) -> DataFrame:
    # one-pass profiler certificate: exact null counts are reproduced
    # verbatim; the HLL++ ndv estimate must sit within 4·rsd of the exact
    # distinct count per column (deterministic — Spark's HLL++ is seedless)
    from sparksketch.profile import profile_table
    docs = _T(spark, sf, "documents")
    cols = ["doc_id", "lang", "source", "n_chars"]
    rsd = 0.015
    prof = {r.column: r for r in profile_table(docs, cols, rsd=rsd).collect()}
    out = []
    for c in cols:
        exact = docs.filter(F.col(c).isNotNull()).select(c).distinct().count()
        r = prof[c]
        ok = abs(r.ndv_est - exact) <= max(4 * rsd * exact, 1.0)
        out.append(Row(column=c, n_nulls=int(r.n_nulls),
                       ndv_exact=int(exact), ok=bool(ok)))
    return spark.createDataFrame(
        out, "column string, n_nulls long, ndv_exact long, ok boolean")


def _pack_sequences_docs(spark: SparkSession, sf: str) -> DataFrame:
    # concat-and-cut training-chunk layout over documents (token proxy =
    # n_chars), 4 portable sub-streams; every (seq, offset, straddles) is
    # integer-exact so the oracle reproduces the layout bit-for-bit
    from sparksketch.packing import pack_sequences
    docs = _T(spark, sf, "documents")
    return pack_sequences(docs, "n_chars", "doc_id", capacity=4096,
                          n_buckets=4,
                          bucket_expr=F.pmod("doc_id", F.lit(4))).select(
        "doc_id", "bucket", "seq", "offset", "straddles")


def _uniform_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    # global fixed-k eval-set pull: the 25 docs with the smallest salted
    # md5 rank — exact, engine-invariant, TakeOrdered plan (never a sort)
    from sparksketch.decontam import uniform_sample_k
    docs = _T(spark, sf, "documents")
    return uniform_sample_k(docs, "doc_id", 25).select("doc_id", "source")


def _bm25_topk_docs(spark: SparkSession, sf: str) -> DataFrame:
    # BM25 top-10 docs for a fixed 3-term query; idf='ratio' (the BM25 idf
    # without ln) so the rank key uses only IEEE-exact ops and the oracle
    # reproduces the ordering bit-for-bit (same rationale as top_terms)
    from sparksketch.textstats import bm25_topk
    docs = _T(spark, sf, "documents")
    return bm25_topk(docs, ["hash", "join", "vector"], k=10)


def _pagerank_hosts(spark: SparkSession, sf: str) -> DataFrame:
    # host-authority ranking: deterministic synthetic host link graph from
    # documents (squared-mix skew hubs, top tenth of hosts dangling), then
    # THREE engine-exact integer PageRank iterations — every cell is
    # +,·,div,% on non-negative BIGINTs, so the DuckDB unrolled-CTE mirror
    # reproduces each rank bit-for-bit; top-20 by (rank desc, host)
    from sparksketch.graph import derive_host_edges, pagerank_int
    docs = _T(spark, sf, "documents")
    ranks = pagerank_int(derive_host_edges(docs), iters=3)
    return (ranks.orderBy(F.desc("rank"), "node").limit(20)
            .select(F.col("node").cast("long").alias("node"),
                    F.col("rank").cast("long").alias("rank")))


def _pmi_pairs_docs(spark: SparkSession, sf: str) -> DataFrame:
    # top-20 adjacent-word collocations by PMI, ranked engine-exactly via
    # the raw lift ratio (c_ab·T)/(c_a·c_b) — ·,/ on doubles cast from
    # exact BIGINTs (no ln), so the DuckDB mirror reproduces the ranking
    # bit-for-bit; min_count=5 drops unreliable rare pairs
    from sparksketch.textstats import pmi_top_pairs
    docs = _T(spark, sf, "documents")
    return pmi_top_pairs(docs, k=20, min_count=5)


def _zorder_docs(spark: SparkSession, sf: str) -> DataFrame:
    # Morton codes for a 2-d (length-bucket, source-id) z-order layout —
    # the write-time clustering that makes parquet row-group min/max tight
    # on BOTH dimensions (sparksketch/layout.py; pruning payoff measured in
    # tests/test_layout.py + scripts/zorder_scale.py).  Every z-value is
    # pure non-negative integer bit arithmetic, so the DuckDB //-and-%
    # mirror reproduces the full column hash-exactly.
    from sparksketch.layout import det_bucket, zvalue
    docs = _T(spark, sf, "documents")
    b_chars = det_bucket("n_chars", 0, 1023, 10)
    b_src = F.substring("source", 4, 8).cast("long")  # 'srcN' -> N (< 32)
    return docs.select("doc_id", zvalue([b_chars, b_src], bits=10).alias("zval"))


def _diversity_docs(spark: SparkSession, sf: str) -> DataFrame:
    # per-source language-mix concentration (profile.diversity_by_group):
    # sumsq is an exact integer, hhi/gini one fixed IEEE chain — bit-exact
    # in DuckDB.
    from sparksketch.profile import diversity_by_group
    docs = _T(spark, sf, "documents")
    return diversity_by_group(docs, "source", "lang")


def _triangles_hosts(spark: SparkSession, sf: str) -> DataFrame:
    # exact per-host triangle counts over the deterministic host graph
    # (sparksketch/graph.py triangle_counts — degree-ordered wedge join,
    # every step an integer equi-join, so the DuckDB oracle reproduces
    # (node, deg, tri) hash-exactly; 1122 triangles at the small SFs, so
    # the result can't go vacuous).
    from sparksketch.graph import derive_host_edges, triangle_counts
    docs = _T(spark, sf, "documents")
    return triangle_counts(derive_host_edges(docs))


def _compact_roundtrip_docs(spark: SparkSession, sf: str) -> DataFrame:
    # small-files compaction (layout.compact_files) driven through a real
    # sink: rewrite the documents table into ~4 target-sized files, read
    # the compacted copy back and return (doc_id, n_chars) — the oracle
    # reads the ORIGINAL table, so the hash match proves the rewrite is
    # lossless row-for-row.
    import tempfile

    from sparksketch.layout import compact_files, dir_bytes
    src = os.path.join(sf, "documents.parquet")
    # pid-scoped sink: a concurrent gate run at the same SF (driver +
    # check_oracle) must not race on one directory.  The live dir stays
    # (the returned lazy DataFrame reads it); siblings of runs whose
    # process has exited are removed before writing.
    prefix = f"sparksketch_gate_compact_{os.path.basename(sf.rstrip('/'))}_"
    _remove_dead_pid_dirs(tempfile.gettempdir(), prefix)
    dst = os.path.join(tempfile.gettempdir(), f"{prefix}{os.getpid()}")
    target = max(1, round(dir_bytes(spark, src) / 2 ** 20 / 4))
    compact_files(spark, src, dst, target_mb=target)
    return spark.read.parquet(dst).select("doc_id", "n_chars")


def _crawl_diff_docs(spark: SparkSession, sf: str) -> DataFrame:
    # incremental-refresh diff (sources.table_diff): a deterministic "new
    # crawl" drops doc_id%13 rows, rewrites text for doc_id%7, and adds
    # shifted ids for doc_id%11 — the full-outer key join must classify
    # every id added/removed/changed/unchanged; per-status count + key
    # sum is the exact-integer evidence (all four statuses non-empty at
    # every SF: ids are dense from 0).
    from sparksketch.sources import table_diff
    docs = _T(spark, sf, "documents")
    new = (docs.filter(F.col("doc_id") % 13 != 0)
           .withColumn("text",
                       F.when(F.col("doc_id") % 7 == 0,
                              F.concat(F.col("text"), F.lit(" [rev2]")))
                       .otherwise(F.col("text"))))
    added = (docs.filter(F.col("doc_id") % 11 == 0)
             .select((F.col("doc_id") + F.lit(10 ** 9)).alias("doc_id"),
                     "text", "lang", "source", "n_chars"))
    d = table_diff(docs, new.unionByName(added), ["doc_id"],
                   ["text", "source"])
    return (d.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("doc_id").cast("long").alias("key_sum")))


def _bfs_hosts(spark: SparkSession, sf: str) -> DataFrame:
    # hop distance from seed hosts {0, 1} over the directed host graph
    # (sparksketch/graph.py bfs_distances) — min-propagation rounds are
    # order-independent, bit-exact in DuckDB via unrolled CTEs.
    from sparksketch.graph import bfs_distances, derive_host_edges
    docs = _T(spark, sf, "documents")
    return bfs_distances(derive_host_edges(docs), [0, 1], max_hops=3)


def _json_quarantine_events(spark: SparkSession, sf: str) -> DataFrame:
    # robust JSONL ingestion (sources.parse_json_robust): ~1% of the
    # events props lines get a deterministic '{oops' corruption prefix
    # (the repo's salting idiom — testdata is read-only), then the
    # quarantine parse must flag exactly those and aggregate k over the
    # good rows only.  DuckDB mirrors with json_valid + json_extract.
    from sparksketch.sources import parse_json_robust
    ev = _T(spark, sf, "events")
    line = F.when(F.col("event_id") % 97 == 0,
                  F.concat(F.lit("{oops"), F.col("props"))
                  ).otherwise(F.col("props"))
    feed = ev.select("event_type", line.alias("line"))
    parsed = parse_json_robust(feed, "line", "k long")
    return (parsed.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(F.when(F.col("is_bad"), 1).otherwise(0))
                 .cast("long").alias("n_bad"),
                 F.sum("rec.k").alias("sum_k_good")))


def _lpa_hosts(spark: SparkSession, sf: str) -> DataFrame:
    # synchronous label-propagation communities, 3 rounds
    # (sparksketch/graph.py label_propagation) — engine-exact: majority
    # label with min tie-break is counts + min, both order-independent,
    # so DuckDB reproduces every round bit-for-bit.  The unfiltered host
    # graph is so hub-dense that LPA floods it to ONE label (measured at
    # every SF — a correct but degenerate driver row); restricting to
    # same-residue-mod-4 edges plants 4 disconnected blocks, so the
    # result always carries >= 4 distinct labels and the community
    # semantics are genuinely exercised.
    from sparksketch.graph import derive_host_edges, label_propagation
    docs = _T(spark, sf, "documents")
    edges = derive_host_edges(docs).filter(
        F.col("src") % 4 == F.col("dst") % 4)
    return label_propagation(edges, iters=3)


def _triangle_estimate_hosts(spark: SparkSession, sf: str) -> DataFrame:
    # DOULION sampled triangle count (graph.triangle_estimate): the md5
    # edge sample is deterministic, so n_edges/n_kept/tri_sampled/est are
    # hash-exact in DuckDB; tri_exact comes from the full count on both
    # sides and ok pins the estimate inside a 25% band (measured relative
    # error 1.4-3.0% at the three SFs at p = 1/2 — 8x margin, and
    # tri_exact is 1122/1122/88276, never vacuous).
    from sparksketch.graph import (derive_host_edges, triangle_counts,
                                   triangle_estimate)
    docs = _T(spark, sf, "documents")
    edges = derive_host_edges(docs)
    est = triangle_estimate(edges, keep_ppm=500000)
    exact = triangle_counts(edges).agg(
        F.expr("sum(tri) div 3").cast("long").alias("tri_exact"))
    return (est.crossJoin(exact)
            .withColumn("ok",
                        F.abs(F.col("est") - F.col("tri_exact").cast("double"))
                        <= 0.25 * F.col("tri_exact").cast("double")))


def _chi2_drift_docs(spark: SparkSession, sf: str) -> DataFrame:
    # source x lang chi-square contingency cells (sparksketch/profile.py
    # chi2_cells) — the corpus-slice drift/independence screen.  One corpus
    # groupBy; totals are window sums over the small cell table; every
    # double is a fixed-order IEEE chain ((r*k)/t, (o-e)^2/e) that DuckDB
    # reproduces bit-for-bit.
    from sparksketch.profile import chi2_cells
    docs = _T(spark, sf, "documents")
    return chi2_cells(docs, "source", "lang")


def _remove_dead_pid_dirs(parent: str, prefix: str) -> None:
    """Remove the ``<prefix><pid>`` dirs under ``parent`` whose process no
    longer exists; the dirs of live processes (this one included) stay."""
    import shutil
    for name in os.listdir(parent):
        pid = name[len(prefix):]
        if not (name.startswith(prefix) and pid.isdigit()) or int(pid) == os.getpid():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
        except (PermissionError, OverflowError):
            pass  # alive under another user / not a pid


def _bm25_index_docs(spark: SparkSession, sf: str) -> DataFrame:
    # persisted-inverted-index BM25 (the repeated-query scale path: a
    # bucket-partitioned postings table answers from |terms|/n_buckets of
    # the index, never rescanning the corpus): build the index, query it,
    # and certify ROW-FOR-ROW equality with the direct scorer — shared
    # _bm25_score_expr chain makes the scores bit-identical, so the oracle
    # is the direct DuckDB ranking + ok pinned TRUE.  The index lands in a
    # per-sf, PID-SCOPED tmp dir (overwritten on rebuild, never
    # accumulated) the returned lazy DataFrame keeps reading from — the
    # pid suffix keeps two concurrent gate runs at the same SF (driver +
    # check_oracle) from overwriting each other's postings mid-read, the
    # same race _compact_roundtrip_docs pid-scopes its sink against.  The
    # live dir stays (the lazy result reads it); siblings of runs whose
    # process has exited are removed before writing.
    import hashlib
    import tempfile

    from pyspark.sql import Window
    from sparksketch.textstats import (bm25_index_topk, bm25_topk,
                                       write_bm25_index)
    docs = _T(spark, sf, "documents")
    prefix = f"sk_bm25_gate_{hashlib.md5(sf.encode()).hexdigest()[:10]}_"
    _remove_dead_pid_dirs(tempfile.gettempdir(), prefix)
    path = os.path.join(tempfile.gettempdir(), f"{prefix}{os.getpid()}")
    write_bm25_index(docs, path, n_buckets=16)
    terms = ["hash", "join", "vector"]
    via = bm25_index_topk(spark, path, terms, n_buckets=16, k=10)
    direct = bm25_topk(docs, terms, k=10)
    w = Window.orderBy(F.desc("score"), "doc_id")
    a = via.withColumn("_rn", F.row_number().over(w))
    b = direct.withColumn("_rn", F.row_number().over(w)).select(
        F.col("_rn").alias("_rn2"), F.col("doc_id").alias("_d2"),
        F.col("score").alias("_s2"))
    ok = (a.join(b, a._rn == b._rn2, "full_outer")
          .agg(F.coalesce(
              F.bool_and(F.coalesce(
                  (F.col("doc_id") == F.col("_d2"))
                  & (F.col("score") == F.col("_s2")), F.lit(False))),
              F.lit(False)).alias("ok")))
    return a.select("doc_id", "score").crossJoin(F.broadcast(ok))


def _mix_budget_docs(spark: SparkSession, sf: str) -> DataFrame:
    # data-mixture composition: 3 sources at 47/31/5.7% of a 3x-corpus row
    # budget — deliberately non-dividing so the partial-epoch md5-threshold
    # path is exercised (full epochs are exact replication; the thresholds
    # derive in exact integer arithmetic on both engines)
    from sparksketch.decontam import mix_to_budget
    docs = _T(spark, sf, "documents")
    budget = 3 * docs.count()
    mixed = mix_to_budget(docs, {"src0": 0.47, "src1": 0.31, "src2": 0.057},
                          budget)
    return mixed.groupBy("source").agg(
        F.count("*").cast("long").alias("n_rows_out"),
        F.countDistinct("doc_id").cast("long").alias("n_keys"),
        F.max("epoch").cast("long").alias("max_epoch"))


def _bpe_train_docs(spark: SparkSession, sf: str) -> DataFrame:
    # distributed BPE tokenizer training certificate: the oracle recomputes
    # step 1 exactly in SQL (weighted char-pair argmax with the same
    # (-count, a, b) binary-order tie-break) plus the total initial symbol
    # count; later steps are certified by the pytest brute-parity suite and
    # the encode_ok invariant — per-doc token counts (explode + join path)
    # must total exactly the weighted word-table segmentation total, two
    # independently-computed BIGINTs.  n_merges pins full 8-step completion
    # at every SF (non-degeneracy: the corpus never exhausts pairs early).
    from sparksketch.bpe import (bpe_segment_words, bpe_token_counts,
                                 bpe_train, word_counts)
    docs = _T(spark, sf, "documents")
    model = bpe_train(docs, "text", n_merges=8, min_count=2)
    wc = word_counts(docs)
    word_side = bpe_segment_words(wc, model).agg(
        F.sum(F.col("cnt") * F.size("toks")).cast("long").alias("t")).first().t
    doc_side = bpe_token_counts(docs, model, "text", "doc_id").agg(
        F.sum("n_bpe_tokens").cast("long").alias("t")).first().t
    first_l, first_r = model.merges[0]
    return spark.createDataFrame(
        [Row(n_merges=len(model.merges), first_left=first_l,
             first_right=first_r, first_count=int(model.merge_counts[0]),
             init_symbols=int(model.init_symbols),
             encode_ok=bool(int(word_side) == int(doc_side)))],
        "n_merges long, first_left string, first_right string, "
        "first_count long, init_symbols long, encode_ok boolean")


def _lm_bigram_docs(spark: SparkSession, sf: str) -> DataFrame:
    # self-trained MLE bigram LM score per document (the perplexity-style
    # quality filter), engine-exact: each bigram position contributes the
    # integer cell (1e6·c_ab) div c_a (Spark `div` ≡ DuckDB `//` on
    # non-negative longs) and the doc score is a BIGINT sum — no ln, no
    # order-dependent float accumulation
    from sparksketch.textstats import lm_bigram_score
    return lm_bigram_score(_T(spark, sf, "documents"), "text", "doc_id")


def _top_terms_docs(spark: SparkSession, sf: str) -> DataFrame:
    # per-doc top-3 distinguishing terms; idf='ratio' so the rank key uses
    # only IEEE-exact ops (*, /) and cross-engine ranking cannot flip
    from sparksketch.textstats import top_terms
    docs = _T(spark, sf, "documents")
    return top_terms(docs, k=3)


def _paragraph_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    # corpus-level paragraph dedup over deterministically multi-paragraph
    # docs: every doc gets a shared footer (one global survivor) and a
    # mod-7 group line (one survivor per residue class); the oracle
    # reproduces first-occurrence = min (doc_id, position) exactly
    from sparksketch.dedup import paragraph_dedup
    docs = _T(spark, sf, "documents")
    # F.concat (NULL-propagating) deliberately mirrors the oracle's `||`;
    # concat_ws would skip a NULL text and silently diverge from DuckDB
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\nSHARED FOOTER\nGROUP-"),
            (F.col("doc_id") % 7).cast("string"),
        ).alias("text"))
    return paragraph_dedup(salted)


def _repetition_features_docs(spark: SparkSession, sf: str) -> DataFrame:
    # Gopher/C4-style repetition quality filters: duplicate-line fraction +
    # most-frequent-word-2-gram share, deterministic tie-break — the oracle
    # reproduces the mode with the identical window rank
    from sparksketch.textstats import repetition_features
    docs = _T(spark, sf, "documents")
    return repetition_features(docs).select(
        "doc_id", "n_lines", "dup_line_ratio", "top_2gram_count", "top_2gram_ratio")


def _scrub_pii_docs(spark: SparkSession, sf: str) -> DataFrame:
    # PII redaction over text with deterministic synthetic PII appended
    # (the corpus itself is clean, so without the injection the scrub would
    # be a vacuous identity); RE2-safe patterns run identically in DuckDB
    from sparksketch.textstats import scrub_pii
    docs = _T(spark, sf, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact: user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 010-"), (F.col("doc_id") % 10000).cast("string"),
            F.lit(" from 10.0.0."), (F.col("doc_id") % 255).cast("string"),
        ).alias("text"),
    )
    return salted.select("doc_id", scrub_pii("text").alias("scrubbed"))


def _canonical_url_docs(spark: SparkSession, sf: str) -> DataFrame:
    # URL canonicalization over deterministically-synthesized messy URLs
    # (documents carry no url column; both engines build the identical
    # string from doc_id/source, then canonicalize): uppercase scheme/host,
    # default port, trailing slash, tracking params, fragment — all
    # normalized to one engine-portable dedup key
    from sparksketch.webtext import canonical_url
    docs = _T(spark, sf, "documents")
    messy = F.concat(
        F.lit("HTTPS://WWW."), F.upper(F.col("source")), F.lit(".COM:443/Path/"),
        F.col("doc_id").cast("string"), F.lit("/?utm_source=x&b="),
        (F.col("doc_id") % 3).cast("string"), F.lit("&a=1&gclid=zz#frag"),
    )
    return docs.select("doc_id", canonical_url(messy).alias("url_canon"))


def _q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q3 shape: selective dim (BUILDING customers) ⋈ orders ⋈
    # lineitem, revenue in exact integer 10^-4 units (price/discount carry
    # 2 decimals each), top-10 via TakeOrdered; date emitted as a string so
    # both engines hash it identically.  NO forced broadcast on customer:
    # it grows with SF (TPC-H: 150k·SF, and a segment filter keeps a fixed
    # 1/5 of it), and an explicit hint overrides autoBroadcastJoinThreshold
    # — at 100× scale that OOMs instead of degrading.  AQE picks broadcast
    # at small SF on its own and falls back to shuffle joins at scale.
    cust = _T(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    cutoff = F.lit("1997-06-15").cast("timestamp_ntz")
    orders = _T(spark, sf, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _T(spark, sf, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * (100 - F.round(F.col("l_discount") * 100).cast("long")))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey))
    return (j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(rev).alias("revenue_e4"))
            .orderBy(F.desc("revenue_e4"), "l_orderkey").limit(10)
            .select("l_orderkey", "revenue_e4",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                    "o_orderpriority"))


def _q5_local_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q5 shape: 6-way join (region → nation → customer → orders →
    # lineitem → supplier) with the local-supplier twist (supplier and
    # customer share a nation); revenue in exact integer 10^-4 units.
    # Forced broadcast only on the BOUNDED dims (region=5, nation=25 rows
    # at every SF); customer and supplier grow with SF, so their join
    # strategy is AQE's runtime call, not a compile-time hint.
    region = _T(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = _T(spark, sf, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    cust = _T(spark, sf, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    orders = _T(spark, sf, "orders")
    li = _T(spark, sf, "lineitem")
    supp = _T(spark, sf, "supplier")
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * (100 - F.round(F.col("l_discount") * 100).cast("long")))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey)
         .join(supp,
               (li.l_suppkey == supp.s_suppkey)
               & (cust.c_nationkey == supp.s_nationkey)))
    return (j.groupBy("n_name")
            .agg(F.sum(rev).alias("revenue_e4"))
            .orderBy(F.desc("revenue_e4"), "n_name"))


def _q6_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q6 shape: pure scan-side predicate aggregation — every filter
    # pushes to the parquet scan, revenue in exact integer 10^-4 units
    li = _T(spark, sf, "lineitem")
    d_e2 = F.round(F.col("l_discount") * 100).cast("long")
    p_e2 = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & d_e2.between(5, 7) & (F.col("l_quantity") < 24))
        .agg(F.coalesce(F.sum(p_e2 * d_e2), F.lit(0)).cast("long").alias("revenue_e4"),
             F.count("*").alias("n_items")))


def _q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q10 shape: one-quarter orders ⋈ returned lineitems ⋈ customer
    # ⋈ nation, top-20 by exact integer revenue with a deterministic
    # custkey tie-break; acctbal emitted in exact cents.  Only the bounded
    # nation dim is hint-broadcast; customer (SF-proportional) is AQE's
    # runtime decision so the plan degrades instead of OOMing at 100×.
    cust = _T(spark, sf, "customer")
    nation = _T(spark, sf, "nation")
    orders = _T(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
    li = _T(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * (100 - F.round(F.col("l_discount") * 100).cast("long")))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey))
    return (j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(F.sum(rev).alias("revenue_e4"))
            .orderBy(F.desc("revenue_e4"), "c_custkey").limit(20)
            .select("c_custkey", "c_name", "revenue_e4",
                    F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_e2"),
                    "n_name"))


def _q4_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q4 shape: EXISTS semi-join + aggregate — orders in one quarter
    # with at least one returned lineitem, counted per priority (the
    # reference schema has no commit/receipt dates, so the EXISTS predicate
    # is l_returnflag = 'R'; the shape — left-semi then group — is q4's)
    orders = _T(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
    returned = (_T(spark, sf, "lineitem")
                .filter(F.col("l_returnflag") == "R").select("l_orderkey"))
    return (orders.join(returned, orders.o_orderkey == returned.l_orderkey,
                        "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


def _q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q14 shape: one-month lineitem ⋈ part (broadcast) with a CASE
    # conditional aggregate; numerator and denominator emitted as exact
    # integers (the promo ratio is a driver-side division away — floats
    # never cross the oracle hash)
    part = _T(spark, sf, "part")
    li = _T(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp_ntz")))
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * (100 - F.round(F.col("l_discount") * 100).cast("long")))
    j = li.join(part, li.l_partkey == part.p_partkey)
    return j.agg(
        F.coalesce(F.sum(F.when(F.col("p_type") == "PROMO", rev)), F.lit(0))
        .cast("long").alias("promo_e4"),
        F.coalesce(F.sum(rev), F.lit(0)).cast("long").alias("total_e4"))


def _q19_discounted_revenue(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q19 shape: OR-of-ANDs predicate across the fact and the
    # broadcast dim — Catalyst pushes the common conjuncts and evaluates
    # the disjunction post-join; revenue in exact integer 10^-4 units
    part = _T(spark, sf, "part")
    li = _T(spark, sf, "lineitem")
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * (100 - F.round(F.col("l_discount") * 100).cast("long")))
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(5, 30)))
    return (j.filter(cond)
            .agg(F.coalesce(F.sum(rev), F.lit(0)).cast("long").alias("revenue_e4"),
                 F.count("*").alias("n_items")))


def _rolling_user_spend(spark: SparkSession, sf: str) -> DataFrame:
    # time-RANGE window frame: each event's trailing-1-hour spend for the
    # same user, in exact integer cents (RANGE peers at equal ts behave
    # identically in Spark and DuckDB; ts emitted as integer micros)
    _T(spark, sf, "events").createOrReplaceTempView("_ev_roll")
    return spark.sql(
        "SELECT user_id, unix_micros(CAST(ts AS timestamp)) AS ts_us, "
        "CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) "
        "AS spend_1h_e2, COUNT(value) OVER w AS n_1h "
        "FROM _ev_roll WHERE value IS NOT NULL "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)")


def _rollup_pricing(spark: SparkSession, sf: str) -> DataFrame:
    # grouping sets: ROLLUP over (returnflag, linestatus) with GROUPING()
    # flags disambiguating subtotal rows from genuine NULLs; exact sums
    _T(spark, sf, "lineitem").createOrReplaceTempView("_li_roll")
    return spark.sql(
        "SELECT COALESCE(l_returnflag, 'ALL') AS flag, "
        "COALESCE(l_linestatus, 'ALL') AS status, "
        "CAST(GROUPING(l_returnflag) AS INT) AS grp_f, "
        "CAST(GROUPING(l_linestatus) AS INT) AS grp_s, "
        "CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty, "
        "COUNT(*) AS n FROM _li_roll "
        "GROUP BY ROLLUP(l_returnflag, l_linestatus)")


def _q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q18 shape: HAVING-subquery (orders whose lineitems sum past a
    # quantity threshold) semi-joined back, then customer ⋈ orders ⋈
    # lineitem re-aggregated, top-10 by exact integer totalprice
    li = _T(spark, sf, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("_s")).filter(F.col("_s") > 300)
           .select("l_orderkey"))
    orders = _T(spark, sf, "orders")
    cust = _T(spark, sf, "customer")
    j = (li.join(big, "l_orderkey", "left_semi")
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey))
    return (j.groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                      "o_totalprice")
            .agg(F.round(F.sum("l_quantity")).cast("long").alias("sum_qty"))
            .select("c_name", "c_custkey", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                    F.round(F.col("o_totalprice") * 100).cast("long").alias("totalprice_e2"),
                    "sum_qty")
            .orderBy(F.desc("totalprice_e2"), "o_orderkey").limit(10))


def _q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    # Full TPC-H q1 aggregate set in integer-exact money math: prices carry 2
    # decimals, discount/tax 2 each, so *100 / *10^4 / *10^6 factors are
    # integral in the data (sums are exact int64, never float-accumulated).
    # Averages are one double division of those exact int64s — bit-identical
    # to the oracle's BIGINT/BIGINT division.  Date-level filter on both
    # sides removes timestamp-semantics exposure in the driver's comparator.
    li = _T(spark, sf, "lineitem")
    base_c2 = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c2 = F.round(F.col("l_discount") * 100).cast("long")
    disc_price_c4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    charge_c6 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * 1000000
    ).cast("long")
    agg = (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(base_c2).alias("sum_base_c2"),
            F.sum(disc_price_c4).alias("sum_disc_price_c4"),
            F.sum(charge_c6).alias("sum_charge_c6"),
            F.sum(disc_c2).alias("sum_disc_c2"),
            F.count("*").alias("count_order"),
        )
    )
    return agg.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_c2",
        "sum_disc_price_c4", "sum_charge_c6",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_c2") / F.col("count_order")).alias("avg_price_c2"),
        (F.col("sum_disc_c2") / F.col("count_order")).alias("avg_disc_c2"),
        "count_order",
    )


def _rev_e4():
    """Exact integer revenue in 10^-4 currency units (the repo's money
    convention: prices carry 2 decimals, discounts 2 — both factors are
    integral in the data, so the product is an exact int64)."""
    return (F.round(F.col("l_extendedprice") * 100).cast("long")
            * (100 - F.round(F.col("l_discount") * 100).cast("long")))


_REV_E4_SQL = ("CAST(round(l_extendedprice * 100) AS BIGINT) "
               "* (100 - CAST(round(l_discount * 100) AS BIGINT))")


def _q7_nation_volume(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q7 shape: shipping volume between two nations by year — the
    # double-nation-join pattern (lineitem ⋈ supplier ⋈ n1, ⋈ orders ⋈
    # customer ⋈ n2) with a symmetric nation-pair predicate; only the two
    # bounded nation views are hint-broadcast — supplier and customer grow
    # with SF and get their join strategy from AQE at runtime
    li = _T(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
    sup = _T(spark, sf, "supplier")
    orders = _T(spark, sf, "orders")
    cust = _T(spark, sf, "customer")
    nation = _T(spark, sf, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("_n1k"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("_n2k"),
                       F.col("n_name").alias("cust_nation"))
    j = (li.join(sup, li.l_suppkey == sup.s_suppkey)
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_n1k"))
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_n2k")))
    # NATION_12 ↔ NATION_11: the pair with shipping volume in-window at
    # EVERY SF (NATION_1/NATION_2 had zero rows at sf0.001 — a vacuous
    # pass the certificate sweep now rejects)
    pair = (((F.col("supp_nation") == "NATION_12") & (F.col("cust_nation") == "NATION_11"))
            | ((F.col("supp_nation") == "NATION_11") & (F.col("cust_nation") == "NATION_12")))
    return (j.filter(pair)
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("int").alias("l_year"))
            .agg(F.sum(_rev_e4()).alias("revenue_e4")))


def _q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q8 shape: one nation's market share inside one region for one
    # part type, per order-year — numerator and denominator emitted as
    # exact integers (the share is a driver-side division away).  Hints
    # only on nation/region (bounded); part's type filter keeps a fixed
    # FRACTION of an SF-proportional table, so like supplier and customer
    # it broadcasts only when AQE measures it small enough at runtime.
    part = _T(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    li = _T(spark, sf, "lineitem")
    sup = _T(spark, sf, "supplier")
    orders = _T(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
    cust = _T(spark, sf, "customer")
    nation = _T(spark, sf, "nation")
    region = _T(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.select(F.col("n_nationkey").alias("_n1k"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("_n2k"),
                       F.col("n_regionkey").alias("_n2r"))
    j = (li.join(part, li.l_partkey == part.p_partkey)
         .join(sup, li.l_suppkey == sup.s_suppkey)
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_n2k"))
         .join(F.broadcast(region), F.col("_n2r") == region.r_regionkey)
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_n1k")))
    return (j.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
            .agg(F.coalesce(F.sum(F.when(F.col("supp_nation") == "NATION_3",
                                         _rev_e4())), F.lit(0))
                 .cast("long").alias("nation_rev_e4"),
                 F.sum(_rev_e4()).alias("total_rev_e4")))


def _q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q9 shape: profit by supplier nation and order-year over parts
    # matching a name pattern.  The testdata has no partsupp/ps_supplycost
    # (documented adaptation): cost := p_retailprice · quantity, so
    # amount_e4 = rev_e4 − retail_c2·qty·100 stays an exact (possibly
    # negative) int64
    part = _T(spark, sf, "part").filter(F.col("p_name").contains("red"))
    li = _T(spark, sf, "lineitem")
    sup = _T(spark, sf, "supplier")
    orders = _T(spark, sf, "orders")
    nation = _T(spark, sf, "nation")
    cost_e4 = (F.round(F.col("p_retailprice") * 100).cast("long")
               * F.round(F.col("l_quantity")).cast("long") * 100)
    j = (li.join(part, li.l_partkey == part.p_partkey)
         .join(sup, li.l_suppkey == sup.s_suppkey)
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey))
    return (j.groupBy(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").cast("int").alias("o_year"))
            .agg(F.sum(_rev_e4() - cost_e4).alias("amount_e4")))


def _q11_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q11 shape: per-key value HAVING a threshold against the GLOBAL
    # total (scalar subquery).  No partsupp in the testdata (documented
    # adaptation): value := lineitem revenue of one nation's suppliers
    # (NATION_12 — the one nation with suppliers at every SF in the
    # testdata).  TPC-H scales its HAVING fraction by 1/SF precisely
    # because a FIXED fraction goes vacuous as parts multiply; the
    # data-driven equivalent here is "value above HALF the average part
    # value" — `value > total div (2·n_parts)` — which is provably
    # non-empty at every SF (the max part is ≥ the average) and stays an
    # exact integer comparison (div is overflow-safe at any SF).
    li = _T(spark, sf, "lineitem")
    sup = _T(spark, sf, "supplier")
    nation = _T(spark, sf, "nation").filter(F.col("n_name") == "NATION_12")
    scoped = (li.join(sup, li.l_suppkey == sup.s_suppkey)
              .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
              .select("l_partkey", _rev_e4().alias("_rev")))
    per_part = scoped.groupBy("l_partkey").agg(F.sum("_rev").alias("value_e4"))
    total = scoped.agg(F.sum("_rev").alias("_total"),
                       F.countDistinct("l_partkey").alias("_n_parts"))
    return (per_part.join(F.broadcast(total))
            .filter(F.col("value_e4") > F.expr("_total div (2 * _n_parts)"))
            .select("l_partkey", "value_e4"))


def _q12_ship_delay_priority(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q12 shape: CASE-counts of high/low-priority orders per shipping
    # category.  No l_shipmode/commitdate/receiptdate in the testdata
    # (documented adaptation): the category is the ship delay vs the order
    # date, compared in raw integer micros (no division — the synthetic
    # data ships some lineitems BEFORE the order date, so signs vary)
    li = _T(spark, sf, "lineitem")
    orders = _T(spark, sf, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    # naive-timestamp comparison with interval arithmetic: the parquet
    # values are TIMESTAMP_NTZ, and unix_micros only accepts LTZ — an LTZ
    # cast would shift the 0/90-day category boundaries by the driver
    # session's timezone vs the oracle's naive TIMESTAMP
    ship, odate = F.col("l_shipdate"), F.col("o_orderdate")
    cat = (F.when(ship > odate + F.expr("INTERVAL 90 DAYS"), "late")
           .when(ship >= odate, "on_time").otherwise("pre_order"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (j.select(cat.alias("ship_cat"), high.alias("_h"))
            .groupBy("ship_cat")
            .agg(F.sum(F.when(F.col("_h"), 1).otherwise(0)).cast("long")
                 .alias("high_line_count"),
                 F.sum(F.when(F.col("_h"), 0).otherwise(1)).cast("long")
                 .alias("low_line_count")))


def _q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q13 shape: distribution of per-customer order counts via a
    # LEFT join with an extra join-side predicate (customers with zero
    # qualifying orders land in the c_count=0 bucket)
    cust = _T(spark, sf, "customer")
    orders = _T(spark, sf, "orders")
    j = cust.join(orders, (cust.c_custkey == orders.o_custkey)
                  & (orders.o_orderpriority != "5-LOW"), "left")
    per_cust = j.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def _q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q15 shape: revenue view over one quarter, then suppliers whose
    # revenue EQUALS the scalar max (ties all surface; exact ints make the
    # equality trustworthy cross-engine)
    li = _T(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
    sup = _T(spark, sf, "supplier")
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev_e4()).alias("total_revenue_e4"))
    mx = rev.agg(F.max("total_revenue_e4").alias("_mx"))
    return (rev.join(F.broadcast(mx))
            .filter(F.col("total_revenue_e4") == F.col("_mx"))
            .join(sup, rev.l_suppkey == sup.s_suppkey)
            .select("s_suppkey", "s_name", "total_revenue_e4"))


def _q17_small_qty_revenue(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q17 shape: revenue from small-quantity lineitems of one brand,
    # where "small" is a correlated per-part average (qty < 0.2·avg(qty)
    # over ALL lineitems of that part).  The threshold compares exactly via
    # cross-multiplication: 5·qty·n_part < sum_qty_part (all int64) — no
    # float average crosses the engines.  p_container doesn't exist in the
    # testdata (documented adaptation): the part filter is brand + size.
    li = _T(spark, sf, "lineitem")
    part = _T(spark, sf, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") == 5))
    qint = F.round(F.col("l_quantity")).cast("long")
    # the classic q17 plan: semi-filter the fact to the ~1/1000 of parts
    # the query touches BEFORE the per-part stats groupBy — the aggregate
    # shuffles only the relevant partkeys' rows, and since the semi-join
    # keeps EVERY lineitem of those parts, the per-part avg is identical.
    # part's brand+size equality filter is the narrow-slice case where a
    # broadcast hint is scale-safe (bounded well below customer/supplier).
    rel = li.join(F.broadcast(part.select("p_partkey")),
                  li.l_partkey == F.col("p_partkey"), "left_semi")
    stats = (rel.groupBy(F.col("l_partkey").alias("_pk"))
             .agg(F.sum(qint).alias("_sum_q"), F.count("*").alias("_n")))
    j = rel.join(stats, rel.l_partkey == F.col("_pk"))
    return (j.filter(qint * 5 * F.col("_n") < F.col("_sum_q"))
            .agg(F.coalesce(F.sum(F.round(F.col("l_extendedprice") * 100)
                                  .cast("long")), F.lit(0))
                 .cast("long").alias("total_e2"),
                 F.count("*").alias("n_items")))


def _q21_waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q21 shape: EXISTS + NOT-EXISTS self-joins on the fact — the
    # supplier who alone "failed" a multi-supplier order.  No receipt/commit
    # dates in the testdata (documented adaptation): "failed" :=
    # l_returnflag = 'R', as in the q4 adaptation.  Top-20 with
    # deterministic (count desc, name) ordering.
    orders = _T(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    sup = _T(spark, sf, "supplier")
    li = (_T(spark, sf, "lineitem")
          .join(orders.select("o_orderkey"),
                F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"))
    l1 = (li.filter(F.col("l_returnflag") == "R")
          .select(F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk"))
          .distinct())
    l2 = li.select(F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2"))
    l3 = (li.filter(F.col("l_returnflag") == "R")
          .select(F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3")))
    cand = l1.join(l2, (F.col("_ok") == F.col("_ok2"))
                   & (F.col("_sk") != F.col("_sk2")), "left_semi")
    alone = cand.join(l3, (F.col("_ok") == F.col("_ok3"))
                      & (F.col("_sk") != F.col("_sk3")), "left_anti")
    return (alone.join(sup, F.col("_sk") == sup.s_suppkey)
            .groupBy("s_name").agg(F.count("*").alias("numwait"))
            .orderBy(F.desc("numwait"), "s_name").limit(20))


def _q22_sales_opportunity(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q22 shape: rich-but-inactive customers — acctbal above the
    # positive-balance average of a nation subset, with NO orders (anti-
    # join + scalar subquery).  No c_phone in the testdata (documented
    # adaptation): the "country code" is c_nationkey.  The average
    # threshold compares exactly via cross-multiplication in cents:
    # bal_c2 · n_pos > sum_pos_c2 — no float average crosses the engines.
    # "No orders" is scoped to 2000+ (every customer has SOME order by
    # TPC-H construction — unscoped, the certificate would be a vacuous
    # 0 == 0; scoped it returns 2/16/181 rows at sf0.001/0.01/0.1).
    nations = [1, 3, 5, 7, 9, 11, 13]
    cust = _T(spark, sf, "customer").filter(F.col("c_nationkey").isin(nations))
    orders = _T(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
    bal_c2 = F.round(F.col("c_acctbal") * 100).cast("long")
    pos = (cust.filter(F.col("c_acctbal") > 0)
           .agg(F.sum(bal_c2).alias("_sum_pos"), F.count("*").alias("_n_pos")))
    rich = (cust.join(F.broadcast(pos))
            .filter(bal_c2 * F.col("_n_pos") > F.col("_sum_pos")))
    inactive = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (inactive.groupBy(F.col("c_nationkey").cast("int").alias("cntrycode"))
            .agg(F.count("*").alias("numcust"),
                 F.sum(bal_c2).alias("totacctbal_c2")))


def _q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q2 shape: the correlated-MIN subquery — for each qualifying
    # part, the supplier(s) achieving the minimum "cost" in one region.
    # The testdata has no partsupp (documented adaptation): the part ↔
    # supplier association is re-bridged through lineitem (who actually
    # shipped the part), and ps_supplycost := s_acctbal.  Ties on the MIN
    # all surface, exactly like the original.
    part = _T(spark, sf, "part").filter(
        (F.col("p_size") == 10) & (F.col("p_type") == "LARGE"))
    li = _T(spark, sf, "lineitem").select("l_partkey", "l_suppkey").distinct()
    sup = _T(spark, sf, "supplier")
    nation = _T(spark, sf, "nation")
    region = _T(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    # part keeps its hint: the two-equality filter (size AND type) is a
    # NARROW slice (~1/300 of part), the one case the broadcast envelope
    # documents; supplier is unfiltered and SF-proportional → AQE decides
    ps = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
          .join(sup, li.l_suppkey == sup.s_suppkey)
          .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
          .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
          .select("p_partkey", "p_brand", "s_suppkey", "s_name", "n_name",
                  F.round(F.col("s_acctbal") * 100).cast("long").alias("cost_c2")))
    mn = ps.groupBy(F.col("p_partkey").alias("_pk")).agg(F.min("cost_c2").alias("_mn"))
    return (ps.join(mn, (ps.p_partkey == F.col("_pk"))
                    & (ps.cost_c2 == F.col("_mn")))
            .select("p_partkey", "p_brand", "s_suppkey", "s_name", "n_name",
                    "cost_c2"))


def _q16_supplier_part_counts(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q16 shape: distinct-supplier counts per part attribute triple,
    # EXCLUDING a supplier blacklist via NOT IN.  partsupp re-bridged
    # through lineitem; the blacklist predicate (original: comment LIKE
    # '%Complaints%') is s_acctbal < 0 (documented adaptation).
    part = _T(spark, sf, "part").filter(F.col("p_brand") != "Brand#1")
    li = _T(spark, sf, "lineitem").select("l_partkey", "l_suppkey").distinct()
    bad = (_T(spark, sf, "supplier").filter(F.col("s_acctbal") < 0)
           .select("s_suppkey"))
    j = (li.join(part, li.l_partkey == part.p_partkey)
         .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti"))
    return (j.groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


def _q20_part_shippers(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H q20 shape: the nested semi-join chain — suppliers (in one
    # nation) who shipped MORE than a threshold quantity of name-matched
    # parts in one year.  partsupp/availqty re-bridged through lineitem
    # (documented adaptation): threshold = 0.5 · that part-supplier pair's
    # total shipped quantity over ALL years, compared exactly via
    # 2·qty_1996 > qty_total (integer cross-multiplication).
    part = _T(spark, sf, "part").filter(F.col("p_name").contains("red"))
    li = _T(spark, sf, "lineitem")
    sup = _T(spark, sf, "supplier")
    # NATION_3 has qualifying shippers at every SF (NATION_7 was empty
    # at sf0.001 — a vacuous row would grade nothing there)
    nation = _T(spark, sf, "nation").filter(F.col("n_name") == "NATION_3")
    qint = F.round(F.col("l_quantity")).cast("long")
    pli = li.join(part.select("p_partkey"),
                  li.l_partkey == F.col("p_partkey"))
    year_q = (pli.filter(F.year("l_shipdate") == 1996)
              .groupBy(F.col("l_partkey").alias("_ypk"),
                       F.col("l_suppkey").alias("_ysk"))
              .agg(F.sum(qint).alias("_yq")))
    total_q = (pli.groupBy(F.col("l_partkey").alias("_tpk"),
                           F.col("l_suppkey").alias("_tsk"))
               .agg(F.sum(qint).alias("_tq")))
    hot = (year_q.join(total_q, (F.col("_ypk") == F.col("_tpk"))
                       & (F.col("_ysk") == F.col("_tsk")))
           .filter(F.col("_yq") * 2 > F.col("_tq"))
           .select(F.col("_ysk").alias("_sk")).distinct())
    return (sup.join(hot, sup.s_suppkey == F.col("_sk"), "left_semi")
            .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
            .select("s_suppkey", "s_name"))


def _sessions_per_user(spark: SparkSession, sf: str) -> DataFrame:
    # gap-based sessionization (7-day gap): one shuffle + one window pass;
    # the oracle runs the identical window logic
    from sparksketch.events import sessionize
    ev = _T(spark, sf, "events")
    out = sessionize(ev, "user_id", "ts", gap_seconds=604800)
    return out.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"))


def _asof_last_click_value(spark: SparkSession, sf: str) -> DataFrame:
    # as-of join: each event gains the value of the user's latest click at
    # or before it (union + carry-forward window — no range cross-product);
    # DuckDB reproduces with its native ASOF LEFT JOIN
    from sparksketch.events import asof_join
    ev = _T(spark, sf, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .groupBy("user_id", "ts").agg(F.max("value").alias("click_value")))
    joined = asof_join(ev, clicks, "user_id", "ts", ["click_value"])
    return joined.select("event_id", "click_value")


def _props_k_stats_by_event_type(spark: SparkSession, sf: str) -> DataFrame:
    # semi-structured surface: JSON property extraction (JVM get_json_object,
    # codegen'd) + exact integer aggregates the oracle reproduces
    ev = _T(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k"),
                 F.count("k").alias("n_k")))


def _top3_orders_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    o = _T(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (o.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("int").alias("rn")))


def _distinct_parts_per_returnflag(spark: SparkSession, sf: str) -> DataFrame:
    li = _T(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(F.countDistinct("l_partkey").alias("n_parts"))


def _customers_without_orders(spark: SparkSession, sf: str) -> DataFrame:
    # anti-join against a FILTERED orders subset (1999+): by TPC-H
    # construction every customer has *some* order, so the unfiltered
    # anti-join is empty at every SF — a vacuous 0==0 certificate that even
    # an inverted join would pass.  Restricting to recent orders makes the
    # expected result non-empty at sf0.001/0.01/0.1 (6/29/305 rows).
    c = _T(spark, sf, "customer")
    o = _T(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def _bloom_distinct_estimate(spark: SparkSession, sf: str) -> DataFrame:
    # cardinality-from-fill certificate (Swamidass & Baldi 2007): the
    # filter built over the raw event stream doubles as a distinct-user
    # sketch — no extra pass, no extra state.  The build drops duplicate
    # keys, so levels fill by distinct count; expected_keys at 2x the
    # event count is headroom that keeps every cascade single-level (one
    # level per shard-tier for the fill formula).  Band: 15% + 20 absolute
    # covers the small-n fill noise; fixed seeds pin the boolean.
    ev = _T(spark, sf, "events").filter("user_id IS NOT NULL")
    exact = ev.select("user_id").distinct().count()
    st = build_bloom(ev, "user_id", BloomConfig(), n_shards=32, partitions=8,
                     expected_keys=2 * ev.count())
    est = st.estimate_distinct()
    ok = abs(est - exact) <= 0.15 * exact + 20
    return spark.createDataFrame(
        [Row(n_distinct_exact=int(exact), ok=bool(ok))],
        "n_distinct_exact long, ok boolean")


def _weighted_quantile_docs(spark: SparkSession, sf: str) -> DataFrame:
    # token-weighted quantile certificate: the t-digest built over
    # (n_chars, weight = token count) must place its p50 estimate inside
    # the exact weighted-median mass band [0.45, 0.55] (atoms of discrete
    # mass make point equality wrong — the band is the honest check).
    # exact_med and total_w are hard integer columns the oracle recomputes
    # with the identical min-v-where-2·cumw≥total definition.
    from sparksketch.tdigest import tdigest_weighted_build
    docs = _T(spark, sf, "documents")
    # token_count is the library's (gate-proven) tokenization — one
    # definition for both the token_counts query and this weight column
    t = docs.select(F.col("n_chars").cast("long").alias("v"),
                    token_count("text").alias("w")).filter("w > 0")
    td = tdigest_weighted_build(t, "v", "w")
    est = td.quantile(0.5)
    g = t.groupBy("v").agg(F.sum("w").alias("w"))
    # two-phase cumulative sum (the quota_sample pre-bucket pattern): an
    # unpartitioned `sum().over(orderBy(v))` puts every distinct v on ONE
    # reducer (Spark's "No Partition Defined" warning); instead cumsum
    # WITHIN ~256 value-range buckets (partitioned window) and add each
    # bucket's offset = total mass of strictly-earlier buckets, computed
    # by a bounded 256×256 self-join — cw is the identical exact-integer
    # running sum, with no single-partition stage anywhere
    mm = g.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).first()
    lo = int(mm.lo if mm.lo is not None else 0)
    width = max(((int(mm.hi) - lo) if mm.hi is not None else 0) // 256 + 1, 1)
    g2 = g.withColumn("_b", F.expr(f"(v - {lo}) div {width}"))
    btot = g2.groupBy("_b").agg(F.sum("w").alias("_bw"))
    boff = (btot.alias("a")
            .join(btot.select(F.col("_b").alias("_b2"),
                              F.col("_bw").alias("_bw2")),
                  F.col("_b2") < F.col("_b"), "left")
            .groupBy("_b").agg(F.coalesce(F.sum("_bw2"), F.lit(0))
                               .alias("_off")))
    c = (g2.withColumn("_cwi", F.sum("w").over(
            W.partitionBy("_b").orderBy("v")))
         .join(boff, "_b")
         .select("v", "w", (F.col("_cwi") + F.col("_off")).alias("cw"))
         .cache())
    try:
        total = c.agg(F.sum("w")).first()[0]
        exact_med = (c.filter(F.col("cw") * 2 >= F.lit(total))
                     .agg(F.min("v")).first()[0])
        cum_le = (c.filter(F.col("v") <= F.lit(float(est)))
                  .agg(F.coalesce(F.max("cw"), F.lit(0))).first()[0])
        cum_lt = (c.filter(F.col("v") < F.lit(float(est)))
                  .agg(F.coalesce(F.max("cw"), F.lit(0))).first()[0])
    finally:
        c.unpersist()
    ok = (cum_lt <= 0.55 * total) and (cum_le >= 0.45 * total)
    return spark.createDataFrame(
        [Row(total_w=int(total), exact_med=int(exact_med), ok=bool(ok))],
        "total_w long, exact_med long, ok boolean")


def _pps_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    # probability-proportional-to-size sampling: p_i = min(1, 0.002·n_chars)
    # (~0.6 mean, so both the proportional branch and the p≥1 cap carry
    # rows), with the Horvitz–Thompson 1/p weight — every arithmetic step a
    # single IEEE double op, so the weights hash-match the oracle exactly
    from sparksketch.decontam import pps_sample
    docs = _T(spark, sf, "documents")
    return (pps_sample(docs, "n_chars", "doc_id", rate=0.002, ht_weight="ht_w")
            .select("doc_id", "n_chars", "ht_w"))


def _cbf_delete_membership(spark: SparkSession, sf: str) -> DataFrame:
    # counting-bloom certificate: insert the click multiset, DELETE the
    # sub-multiset of clicks with value < 95, then (a) zero FN over users
    # with a remaining click (a guarantee, not luck) and (b) fully-removed
    # users survive only as bounded FPs.  The two user counts are hard
    # data-derived columns the oracle recomputes; both sets are non-empty
    # at sf0.001/0.01/0.1 (removed: 1/16/196).
    from sparksketch.cbf import cbf_build, cbf_delete, with_cbf_membership
    ev = _T(spark, sf, "events")
    clicks = ev.filter("event_type = 'click' AND user_id IS NOT NULL")
    st = cbf_build(clicks, "user_id", k=8, m=1 << 18)
    st = cbf_delete(st, clicks.filter("value IS NOT NULL AND value < 95"),
                    "user_id")
    # cached: each distinct-aggregate feeds two jobs (probe + count) and
    # gone_users re-reads rem_users — without the cache the clicks scan
    # and aggregation would run ~5 times in this one certificate
    rem_users = (clicks.filter("value IS NULL OR value >= 95")
                 .select("user_id").distinct().cache())
    gone_users = (clicks.select("user_id").distinct()
                  .join(rem_users, "user_id", "left_anti").cache())
    try:
        fn = with_cbf_membership(rem_users, "user_id", st).filter("NOT is_member").count()
        n_rem = rem_users.count()
        n_gone = gone_users.count()
        fp = with_cbf_membership(gone_users, "user_id", st).filter("is_member").count()
    finally:
        rem_users.unpersist()
        gone_users.unpersist()
    ok = fn == 0 and fp <= max(2, 0.05 * n_gone)
    return spark.createDataFrame(
        [Row(n_remaining_users=int(n_rem),
             n_removed_users=int(n_gone), ok=bool(ok))],
        "n_remaining_users long, n_removed_users long, ok boolean")


def _decode_media_features(spark: SparkSession, sf: str) -> DataFrame:
    # REAL-decoder certificate (was rows-only through r4): one blob of
    # genuine media per document row — binary PGM for even doc_ids, RIFF/
    # WAVE 16-bit PCM for odd — decoded through decode_blob's REAL format
    # branches (pure-numpy PGM parse, stdlib wave), then compared as EXACT
    # integers (pixel count / int64 pixel sum / frame count) against the
    # ground truth the seeded generator derives while writing the bytes.
    # n_mismatch is pinned 0 by the oracle and ok pins TRUE; n_media is
    # data-derived (count of documents by id parity), so the certificate
    # scales with SF and can never go vacuous.
    from sparksketch.multimodal import decode_stats, synth_real_media
    docs = _T(spark, sf, "documents").select("doc_id")
    media = synth_real_media(docs, "doc_id", seed=42)
    checked = decode_stats(
        media, decoder="real",
        keep=["mime", "expected_pixels", "expected_sum", "expected_frames"])
    bad = ((F.col("n_pixels") != F.col("expected_pixels"))
           | (F.col("pixel_sum") != F.col("expected_sum"))
           | (F.col("n_frames") != F.col("expected_frames")))
    return (checked.groupBy("mime")
            .agg(F.count("*").alias("n_media"),
                 F.sum(F.when(bad, 1).otherwise(0)).alias("n_mismatch"))
            .withColumn("ok", F.col("n_mismatch") == 0)
            .orderBy("mime"))


# Queries whose RESULT changed in round N (new semantics, not just a new
# plan): until a CORRECTNESS_r*.json from round >= N records them, their
# previous driver rows certify code that no longer exists, so the rotation
# treats them as never-checked.  Self-clearing — once the driver gate of
# round N lands, last-checked >= N and the entry sorts by recency again.
_RESULT_CHANGED_IN_ROUND = {
    "q7_nation_volume": 5,        # nation pair -> NATION_12/11 (all-SF non-vacuous)
    "q11_important_parts": 5,     # threshold -> above half average; NATION_12
    "decode_media_features": 5,   # rows-only fake-codec -> real-decoder certificate
}


def _rotation_order(keys: list[str]) -> list[str]:
    """STANDING invariant: the driver's correctness gate checks only the
    first 50 ``queries()`` entries, so ordering is least-recently-driver-
    checked first, computed from the CORRECTNESS_r*.json files the driver
    itself writes — never-checked queries lead, then ascending by the last
    round a key appeared in, then by how many rounds have ever checked it
    (thinnest evidence first), then stable.  No entry's latest driver row
    can fall more than ceil(n_queries/50) rounds stale, with zero per-round
    manual re-ordering."""
    import glob
    import json
    import os
    import re as _re

    base = os.path.dirname(os.path.abspath(__file__))
    last = dict.fromkeys(keys, 0)
    n_checks = dict.fromkeys(keys, 0)
    for path in glob.glob(os.path.join(base, "CORRECTNESS_r*.json")):
        m = _re.search(r"_r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for k in data:
            if k in last:
                last[k] = max(last[k], rnd)
                n_checks[k] += 1
    for k, rnd in _RESULT_CHANGED_IN_ROUND.items():
        if k in last and last[k] < rnd:
            last[k] = 0  # stale rows certify retired semantics
    order = {k: i for i, k in enumerate(keys)}
    return sorted(keys, key=lambda k: (last[k], n_checks[k], order[k]))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate checks the first 50
    # entries only — the literal below is grouping/documentation, the
    # RETURNED order is _rotation_order's least-recently-checked-first
    # (computed from the driver's own CORRECTNESS_r*.json history).
    qmap = {
        # --- rotated head: the 16 queries the r1-r3 gates never reached ---
        "interval_join_events": _interval_join_events,
        "props_k_stats_by_event_type": _props_k_stats_by_event_type,
        "q1_pricing_summary": _q1_pricing_summary,
        "q3_shipping_priority": _q3_shipping_priority,
        "q4_order_priority": _q4_order_priority,
        "q5_local_supplier_volume": _q5_local_supplier_volume,
        "q6_forecast_revenue": _q6_forecast_revenue,
        "q10_returned_items": _q10_returned_items,
        "q14_promo_revenue": _q14_promo_revenue,
        "q18_large_orders": _q18_large_orders,
        "q19_discounted_revenue": _q19_discounted_revenue,
        "rolling_user_spend": _rolling_user_spend,
        "rollup_pricing": _rollup_pricing,
        "top3_orders_per_customer": _top3_orders_per_customer,
        "distinct_parts_per_returnflag": _distinct_parts_per_returnflag,
        "customers_without_orders": _customers_without_orders,
        # multimodal decode path — REAL PGM/WAV decode with an exact
        # integer certificate since r5 (hash-checked like everything else)
        "decode_media_features": _decode_media_features,
        # --- new in round 4: the remaining TPC-H query shapes (q2/q16/q20
        # need partsupp, absent from the testdata; adapted shapes noted in
        # each docstring) ---
        "q7_nation_volume": _q7_nation_volume,
        "q8_market_share": _q8_market_share,
        "q9_product_profit": _q9_product_profit,
        "q11_important_parts": _q11_important_parts,
        "q12_ship_delay_priority": _q12_ship_delay_priority,
        "q13_customer_distribution": _q13_customer_distribution,
        "q15_top_supplier": _q15_top_supplier,
        "q17_small_qty_revenue": _q17_small_qty_revenue,
        "q21_waiting_suppliers": _q21_waiting_suppliers,
        "q22_sales_opportunity": _q22_sales_opportunity,
        "q2_min_cost_supplier": _q2_min_cost_supplier,
        "q16_supplier_part_counts": _q16_supplier_part_counts,
        "q20_part_shippers": _q20_part_shippers,
        # counting bloom (deletable membership, new in round 4)
        "cbf_delete_membership": _cbf_delete_membership,
        # weighted sampling (new in round 4)
        "pps_sample_docs": _pps_sample_docs,
        # cardinality-from-fill (new in round 4)
        "bloom_distinct_estimate": _bloom_distinct_estimate,
        # weighted quantiles (new in round 4)
        "weighted_quantile_docs": _weighted_quantile_docs,
        # bloom (the centerpiece)
        "bloom_zero_fn": _bloom_zero_fn,
        "bloom_partkey_screen": _bloom_partkey_screen,
        "bloom_join_brand_qty": _bloom_join_brand_qty,
        "bloom_by_source_zero_fn": _bloom_by_source_zero_fn,
        # companion sketches
        "hll_users_by_event_type": _hll_users_by_event_type,
        "hll_distinct_docs": _hll_distinct_docs,
        # sketch cube / rollup state tables (new in round 5)
        "hll_cube_daily_users": _hll_cube_daily_users,
        "cms_source_counts": _cms_source_counts,
        "cms_returnflag_counts": _cms_returnflag_counts,
        "tdigest_value_quantiles": _tdigest_value_quantiles,
        "kll_nchars_quantiles": _kll_nchars_quantiles,
        "tdigest_median_by_event_type": _tdigest_median_by_event_type,
        # dedup
        "dedup_exact_documents": _dedup_exact_documents,
        "shared_kgram_docs": _shared_kgram_docs,
        "kgram_dup_stats_docs": _kgram_dup_stats_docs,
        "set_sim_docs": _set_sim_docs,
        "minhash_neardup_docs": _minhash_neardup_docs,
        "simhash_docs": _simhash_docs,
        "exact_jaccard_pairs": _exact_jaccard_pairs,
        "dedup_components_docs": _dedup_components_docs,
        "simhash_complete_check": _simhash_complete_check,
        "cms_min_user_by_event_type": _cms_min_user_by_event_type,
        "heavy_hitters_sources": _heavy_hitters_sources,
        "decontam_documents": _decontam_documents,
        "hash_split_documents": _hash_split_documents,
        # text analysis
        "token_counts": _token_counts,
        "bpe_token_counts": _bpe_token_counts,
        "quality_features_docs": _quality_features_docs,
        "char_class_counts": _char_class_counts,
        "lang_id_documents": _lang_id_documents,
        "fingerprint_documents": _fingerprint_documents,
        "stratified_sample_docs": _stratified_sample_docs,
        "bm25_topk_docs": _bm25_topk_docs,
        "bm25_index_docs": _bm25_index_docs,
        "pmi_pairs_docs": _pmi_pairs_docs,
        "pagerank_hosts": _pagerank_hosts,
        "zorder_docs": _zorder_docs,
        "chi2_drift_docs": _chi2_drift_docs,
        "diversity_docs": _diversity_docs,
        "triangles_hosts": _triangles_hosts,
        "triangle_estimate_hosts": _triangle_estimate_hosts,
        "lpa_hosts": _lpa_hosts,
        "json_quarantine_events": _json_quarantine_events,
        "bfs_hosts": _bfs_hosts,
        "crawl_diff_docs": _crawl_diff_docs,
        "compact_roundtrip_docs": _compact_roundtrip_docs,
        "lm_bigram_docs": _lm_bigram_docs,
        "bpe_train_docs": _bpe_train_docs,
        "mix_budget_docs": _mix_budget_docs,
        "top_terms_docs": _top_terms_docs,
        "quota_sample_docs": _quota_sample_docs,
        "uniform_sample_docs": _uniform_sample_docs,
        "pack_sequences_docs": _pack_sequences_docs,
        "profile_documents": _profile_documents,
        "kll_bucketize_events": _kll_bucketize_events,
        "theta_user_overlap": _theta_user_overlap,
        "fd_embeddings_cov": _fd_embeddings_cov,
        "ams_f2_users": _ams_f2_users,
        "ams_join_size": _ams_join_size,
        "funnel_depth_events": _funnel_depth_events,
        "paragraph_dedup_docs": _paragraph_dedup_docs,
        "repetition_features_docs": _repetition_features_docs,
        "scrub_pii_docs": _scrub_pii_docs,
        "canonical_url_docs": _canonical_url_docs,
        # similarity
        "cosine_topk_embeddings": _cosine_topk_embeddings,
        "cosine_pairs": _cosine_pairs,
        "knn_join_embeddings": _knn_join_embeddings,
        "embedding_neardup_lsh": _embedding_neardup_lsh,
        # --- clustering (round 5): distributed spherical k-means + SemDeDup ---
        "kmeans_clusters_emb": _kmeans_clusters_emb,
        "semantic_dedup_emb": _semantic_dedup_emb,
        # --- product quantization (round 5): compressed ANN, 2-stage query ---
        "pq_adc_topk_emb": _pq_adc_topk_emb,
        "ivfpq_topk_emb": _ivfpq_topk_emb,
        "ivfpq_knn_join_emb": _ivfpq_knn_join_emb,
        # event-stream surface
        "sessions_per_user": _sessions_per_user,
        "asof_last_click_value": _asof_last_click_value,
        "range_join_events": _range_join_events,
    }
    return {k: qmap[k] for k in _rotation_order(list(qmap))}


# ====================================================================
# oracles
# ====================================================================

def _lang_case_sql() -> str:
    from sparksketch.textstats import LANG_STOPWORDS
    toks = "list_transform(string_split_regex(trim(text), '\\s+'), t -> lower(t))"
    hits = {
        lang: (f"CASE WHEN trim(text) = '' THEN 0 ELSE "
               f"len(list_intersect({toks}, {words!r})) END")
        for lang, words in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    branches = []
    for i, lang in enumerate(langs):
        conds = [f"({hits[lang]}) > 0"]
        for j, o in enumerate(langs):
            if j < i:
                conds.append(f"({hits[lang]}) > ({hits[o]})")
            elif j > i:
                conds.append(f"({hits[lang]}) >= ({hits[o]})")
        branches.append("WHEN " + " AND ".join(conds) + f" THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


def _sq(s: str) -> str:
    """SQL single-quoted literal (standard escaping; DuckDB strings are not
    backslash-escaped, so only the quote needs doubling)."""
    return "'" + s.replace("'", "''") + "'"


def _quality_sql() -> str:
    from sparksketch.textstats import (
        ALPHA_CHARS, DIGIT_CHARS, LANG_STOPWORDS, PUNCT_CHARS, SPACE_CHARS,
    )
    toks = "list_transform(string_split_regex(trim(text), '\\s+'), t -> lower(t))"
    ntok = ("CASE WHEN trim(text) = '' THEN 0 ELSE "
            "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) END")
    stop_hits = (f"CASE WHEN trim(text) = '' THEN 0 ELSE "
                 f"len(list_intersect({toks}, {LANG_STOPWORDS['en']!r})) END")
    cls = {name: f"CAST(length(text) - length(translate(text, {_sq(chars)}, '')) AS BIGINT)"
           for name, chars in [("a", ALPHA_CHARS), ("d", DIGIT_CHARS),
                               ("s", SPACE_CHARS), ("p", PUNCT_CHARS)]}
    # arithmetic mirrors sparksketch.textstats.quality_features term-for-term
    # (same operand order) so the IEEE doubles are bit-identical
    return (
        f"WITH f AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_t, "
        f"{ntok} AS n_tokens, {cls['a']} AS a_cnt, {cls['d']} AS d_cnt, "
        f"{cls['s']} AS s_cnt, {cls['p']} AS p_cnt, {stop_hits} AS stop_hits "
        f"FROM documents), "
        f"g AS (SELECT doc_id, n_chars_t, n_tokens, "
        f"CAST(n_chars_t AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) AS mean_tok, "
        f"a_cnt / CAST(greatest(n_chars_t, 1) AS DOUBLE) AS alpha, "
        f"d_cnt / CAST(greatest(n_chars_t, 1) AS DOUBLE) AS digit, "
        f"s_cnt / CAST(greatest(n_chars_t, 1) AS DOUBLE) AS space, "
        f"p_cnt / CAST(greatest(n_chars_t, 1) AS DOUBLE) AS punct, "
        f"stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE) AS stopr FROM f) "
        f"SELECT doc_id, n_chars_t, n_tokens, round(mean_tok, 4) AS mean_token_len, "
        f"round(alpha, 4) AS alpha_ratio, round(digit, 4) AS digit_ratio, "
        f"round(space, 4) AS space_ratio, round(punct, 4) AS punct_ratio, "
        f"round(stopr, 4) AS stopword_ratio, "
        f"round(least(alpha * 1.25, 1.0) * 0.4 + least(stopr * 4.0, 1.0) * 0.3 "
        f"+ (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END) * 0.2 "
        f"+ (CASE WHEN mean_tok >= 3 AND mean_tok <= 12 THEN 0.1 ELSE 0.0 END), 4) "
        f"AS quality_score FROM g")


def _zorder_sql_query() -> str:
    """DuckDB mirror of _zorder_docs: identical bucket + Morton-interleave
    integer arithmetic, generated by sparksketch.layout's own SQL
    generators so Spark and the oracle share one spec."""
    from sparksketch.layout import det_bucket_sql, zvalue_sql
    b_chars = det_bucket_sql("n_chars", 0, 1023, 10)
    b_src = "(CAST(substring(source, 4) AS BIGINT) % 1024)"
    return ("SELECT doc_id, " + zvalue_sql([b_chars, b_src], bits=10)
            + " AS zval FROM documents")


def _scrub_pii_sql_query() -> str:
    from sparksketch.textstats import scrub_pii_sql
    salted = ("text || ' contact: user' || CAST(doc_id AS VARCHAR) || "
              "'@example.com or +1 (555) 010-' || CAST(doc_id % 10000 AS VARCHAR) || "
              "' from 10.0.0.' || CAST(doc_id % 255 AS VARCHAR)")
    return (f"WITH s AS (SELECT doc_id, {salted} AS text FROM documents) "
            f"SELECT doc_id, {scrub_pii_sql('text')} AS scrubbed FROM s")


def _canonical_url_sql_query() -> str:
    from sparksketch.webtext import canonical_url_sql
    messy = ("'HTTPS://WWW.' || upper(source) || '.COM:443/Path/' || "
             "CAST(doc_id AS VARCHAR) || '/?utm_source=x&b=' || "
             "CAST(doc_id % 3 AS VARCHAR) || '&a=1&gclid=zz#frag'")
    return (f"WITH s AS (SELECT doc_id, {messy} AS url FROM documents) "
            f"SELECT doc_id, {canonical_url_sql('url')} AS url_canon FROM s")


def _stratified_sample_sql_query() -> str:
    from sparksketch.decontam import sample_sql_pred
    pred = sample_sql_pred("source", "doc_id", _MIX_FRACTIONS, default=0.8)
    return f"SELECT doc_id, source FROM documents WHERE {pred}"


def _quota_sample_sql_query() -> str:
    from sparksketch.decontam import quota_sql_pred
    pred = quota_sql_pred("source", "doc_id", 12)
    return f"SELECT doc_id, source FROM documents QUALIFY {pred}"


def _pps_sample_sql_query() -> str:
    from sparksketch.decontam import pps_sql_pred
    pred = pps_sql_pred("n_chars", "doc_id", 0.002)
    return ("SELECT doc_id, n_chars, "
            "1.0 / least(CAST(n_chars AS DOUBLE) * 0.002, 1.0) AS ht_w "
            f"FROM documents WHERE {pred}")


def _hash_split_sql() -> str:
    from sparksketch.decontam import split_sql_case
    case = split_sql_case("text", {"train": 0.8, "val": 0.1, "test": 0.1})
    return f"SELECT doc_id, {case} AS split FROM documents"


def oracle_sql() -> dict[str, str]:
    from sparksketch.decontam import uniform_sample_sql
    from sparksketch.graph import (bfs_distances_sql, derive_host_edges_sql,
                                   label_propagation_sql, pagerank_int_sql,
                                   triangle_counts_sql, triangle_estimate_sql)
    from sparksketch.sources import json_bad_pred_sql
    from sparksketch.packing import pack_sequences_sql
    qrows = " UNION ALL ".join(
        f"SELECT CAST({q} AS DOUBLE) AS q, TRUE AS ok" for q in _QS
    )
    cos = ("round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) / "
           "(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) * "
           "sqrt(list_dot_product(qv, qv))), 4)")
    out = {
        "bloom_zero_fn": "SELECT count(*) AS n_keys, CAST(0 AS BIGINT) AS false_negatives FROM customer",
        "bloom_partkey_screen": ("SELECT DISTINCT p_partkey FROM part "
                                 "WHERE p_partkey NOT IN (SELECT c_custkey FROM customer)"),
        "bloom_join_brand_qty": (
            "SELECT p_brand, count(*) AS n_items, "
            "round(sum(l_quantity), 2) AS sum_qty "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE p_size < 10 GROUP BY p_brand"),
        "bloom_by_source_zero_fn": "SELECT DISTINCT source, TRUE AS ok FROM documents",
        "hll_users_by_event_type": ("SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, "
                                    "TRUE AS hll_ok FROM events GROUP BY event_type"),
        "hll_distinct_docs": "SELECT COUNT(DISTINCT text) AS n_exact, TRUE AS hll_ok FROM documents",
        "hll_cube_daily_users": (
            "SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact, "
            "TRUE AS merge_ok, TRUE AS hll_ok FROM events "
            "WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-14' "
            "GROUP BY event_type"),
        "cms_source_counts": "SELECT source, count(*) AS cnt FROM documents GROUP BY source",
        "cms_returnflag_counts": ("SELECT l_returnflag, count(*) AS cnt FROM lineitem "
                                  "GROUP BY l_returnflag"),
        "tdigest_value_quantiles": qrows,
        "kll_nchars_quantiles": qrows,
        "tdigest_median_by_event_type": "SELECT DISTINCT event_type, TRUE AS ok FROM events",
        "dedup_exact_documents": "SELECT min(doc_id) AS doc_id FROM documents GROUP BY text",
        "token_counts": ("SELECT doc_id, CASE WHEN trim(text) = '' THEN 0 ELSE "
                         "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) END AS n_tokens "
                         "FROM documents"),
        "char_class_counts": (
            "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_t, "
            "CAST(length(text) - length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz', '')) AS BIGINT) AS n_alpha, "
            "CAST(length(text) - length(translate(text, '0123456789', '')) AS BIGINT) AS n_digit, "
            "CAST(length(text) - length(translate(text, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12), '')) AS BIGINT) AS n_space, "
            "CAST(length(text) - length(translate(text, '!\"#$%&''()*+,-./:;<=>?@[\\]^_`{|}~', '')) AS BIGINT) AS n_punct "
            "FROM documents"),
        "lang_id_documents": f"SELECT doc_id, {_lang_case_sql()} AS lang_pred FROM documents",
        "fingerprint_documents": "SELECT doc_id, md5(text) AS fp FROM documents",
        "stratified_sample_docs": _stratified_sample_sql_query(),
        "quota_sample_docs": _quota_sample_sql_query(),
        "uniform_sample_docs": uniform_sample_sql(
            "documents", "doc_id, source", "doc_id", 25),
        "pack_sequences_docs": pack_sequences_sql(
            "documents", "doc_id", "n_chars", "doc_id", 4096, "doc_id % 4"),
        "profile_documents": " UNION ALL ".join(
            f"SELECT '{c}' AS column, "
            f"CAST(count(*) - count({c}) AS BIGINT) AS n_nulls, "
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS ndv_exact, TRUE AS ok "
            f"FROM documents"
            for c in ["doc_id", "lang", "source", "n_chars"]),
        "kll_bucketize_events": (
            "SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS bucket, "
            "TRUE AS ok"),
        "funnel_depth_events": (
            "WITH e AS (SELECT user_id, ts, event_type FROM events "
            "WHERE event_type IN ('view', 'click', 'purchase')), "
            "a AS (SELECT user_id, min(ts) FILTER (WHERE event_type = 'view') "
            "AS t1 FROM e GROUP BY user_id), "
            "b AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN a USING (user_id) "
            "WHERE e.event_type = 'click' AND e.ts > a.t1 GROUP BY e.user_id), "
            "c AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN b USING (user_id) "
            "WHERE e.event_type = 'purchase' AND e.ts > b.t2 GROUP BY e.user_id) "
            "SELECT a.user_id, CAST(CASE WHEN t3 IS NOT NULL THEN 3 "
            "WHEN t2 IS NOT NULL THEN 2 WHEN t1 IS NOT NULL THEN 1 "
            "ELSE 0 END AS INT) AS depth "
            "FROM a LEFT JOIN b USING (user_id) LEFT JOIN c USING (user_id)"),
        "theta_user_overlap": (
            "SELECT CAST(count(*) AS BIGINT) AS n_exact_inter, TRUE AS ok FROM "
            "(SELECT user_id FROM events WHERE event_type = 'click' "
            "INTERSECT SELECT user_id FROM events WHERE event_type = 'view')"),
        "ams_f2_users": (
            "SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact, TRUE AS ok FROM "
            "(SELECT CAST(count(*) AS BIGINT) AS c FROM events "
            "WHERE user_id IS NOT NULL GROUP BY user_id)"),
        "ams_join_size": (
            "SELECT CAST(count(*) AS BIGINT) AS n_join_exact, TRUE AS ok FROM "
            "(SELECT user_id FROM events WHERE event_type = 'click' "
            "AND user_id IS NOT NULL) c JOIN "
            "(SELECT user_id FROM events WHERE event_type = 'view' "
            "AND user_id IS NOT NULL) v USING (user_id)"),
        "fd_embeddings_cov": (
            "SELECT CAST(count(*) AS BIGINT) AS n_vecs, "
            "CAST(max(len(embedding)) AS INT) AS dim, TRUE AS ok "
            "FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = "
            "(SELECT max(len(embedding)) FROM embeddings)"),
        # full integer PageRank recomputed in DuckDB: identical edge
        # derivation + 3 unrolled power-iteration CTEs, every cell
        # +,·,//,% on BIGINTs — bit-exact vs sparksketch.graph.pagerank_int
        "pagerank_hosts": pagerank_int_sql(
            derive_host_edges_sql(), iters=3, top_k=20),
        # exact triangle counts: identical degree orientation + wedge +
        # closure equi-joins on BIGINTs (graph.triangle_counts_sql)
        "triangles_hosts": triangle_counts_sql(derive_host_edges_sql()),
        # integer sum-of-squares, then the identical hhi/gini IEEE chain
        "diversity_docs": (
            "WITH cells AS (SELECT source, lang, COUNT(*) AS _cnt "
            "FROM documents GROUP BY source, lang), "
            "per AS (SELECT source, CAST(SUM(_cnt) AS BIGINT) AS n, "
            "CAST(SUM(_cnt * _cnt) AS BIGINT) AS sumsq "
            "FROM cells GROUP BY source) "
            "SELECT source, n, sumsq, "
            "CAST(sumsq AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) "
            "AS hhi, 1.0 - (CAST(sumsq AS DOUBLE) / (CAST(n AS DOUBLE) * "
            "CAST(n AS DOUBLE))) AS gini FROM per"),
        # robust-ingest quarantine: sources.json_bad_pred_sql mirrors
        # from_json's corrupt-record flag faithfully (object-ness and
        # k-typing included — a parity pytest pins 14 edge shapes), not
        # just json_valid, so a future testdata regen with non-object or
        # mistyped props cannot silently diverge the two engines
        "json_quarantine_events": (
            "WITH feed AS (SELECT event_type, CASE WHEN event_id % 97 = 0 "
            "THEN '{oops' || props ELSE props END AS line FROM events), "
            "flagged AS (SELECT event_type, line, "
            + json_bad_pred_sql("line") + " AS bad FROM feed) "
            "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_lines, "
            "CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad, "
            "CAST(SUM(CASE WHEN NOT bad THEN "
            "CAST(json_extract_string(TRY_CAST(line AS JSON), '$.k') "
            "AS BIGINT) END) "
            "AS BIGINT) AS sum_k_good FROM flagged GROUP BY event_type"),
        # the Spark side round-trips through compact_files' sink; reading
        # the original here proves the rewrite lossless
        "compact_roundtrip_docs": "SELECT doc_id, n_chars FROM documents",
        # full-outer key diff: IS NOT DISTINCT FROM mirrors Spark's <=>
        "crawl_diff_docs": (
            "WITH o AS (SELECT doc_id, text, source FROM documents), "
            "newt AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN "
            "text || ' [rev2]' ELSE text END AS text, source "
            "FROM documents WHERE doc_id % 13 <> 0 "
            "UNION ALL SELECT doc_id + 1000000000 AS doc_id, text, source "
            "FROM documents WHERE doc_id % 11 = 0), "
            "j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, "
            "CASE WHEN o.doc_id IS NULL THEN 'added' "
            "WHEN n.doc_id IS NULL THEN 'removed' "
            "WHEN o.text IS NOT DISTINCT FROM n.text "
            "AND o.source IS NOT DISTINCT FROM n.source THEN 'unchanged' "
            "ELSE 'changed' END AS status "
            "FROM o FULL OUTER JOIN newt n ON o.doc_id = n.doc_id) "
            "SELECT status, CAST(COUNT(*) AS BIGINT) AS n, "
            "CAST(SUM(doc_id) AS BIGINT) AS key_sum FROM j GROUP BY status"),
        # 3 unrolled BFS min-propagation rounds from seeds {0, 1}
        "bfs_hosts": bfs_distances_sql(
            derive_host_edges_sql(),
            "SELECT 0 AS node UNION ALL SELECT 1 AS node", max_hops=3),
        # 3 unrolled LPA rounds: majority-label-with-min-tie-break is
        # counts + min — order-independent, bit-exact in any engine
        "lpa_hosts": label_propagation_sql(
            derive_host_edges_sql()
            + ", edges_b AS (SELECT src, dst FROM edges "
            "WHERE src % 4 = dst % 4)",
            iters=3, edges_table="edges_b"),
        # DOULION estimate: identical md5 edge sample + sampled count +
        # fixed-order estimate chain; tri_exact recomputed in full and the
        # 25% band evaluated on identical doubles
        "triangle_estimate_hosts": (
            "WITH est AS (" + triangle_estimate_sql(
                derive_host_edges_sql(), keep_ppm=500000) + "), "
            "ex AS (SELECT CAST(SUM(tri) // 3 AS BIGINT) AS tri_exact FROM ("
            + triangle_counts_sql(derive_host_edges_sql()) + ")) "
            "SELECT est.n_edges, est.n_kept, est.tri_sampled, est.est, "
            "ex.tri_exact, abs(est.est - CAST(ex.tri_exact AS DOUBLE)) <= "
            "0.25 * CAST(ex.tri_exact AS DOUBLE) AS ok FROM est, ex"),
        # Morton interleave mirrored with //-and-% integer arithmetic —
        # generated by the SAME module (layout.zvalue_sql) as the Spark
        # bit expression, one spec for both engines
        "zorder_docs": _zorder_sql_query(),
        # chi-square cells: exact-int counts until the fixed-order IEEE
        # chain (r*k)/t then (o-e)^2/e — bit-exact across engines; the
        # inner CAST(... AS BIGINT) defuses DuckDB's HUGEINT SUM promotion
        "chi2_drift_docs": (
            "WITH cells AS (SELECT source, lang, COUNT(*) AS o "
            "FROM documents GROUP BY source, lang), "
            "w AS (SELECT source, lang, o, "
            "(CAST(CAST(SUM(o) OVER (PARTITION BY source) AS BIGINT) AS DOUBLE)"
            " * CAST(CAST(SUM(o) OVER (PARTITION BY lang) AS BIGINT) AS DOUBLE))"
            " / CAST(CAST(SUM(o) OVER () AS BIGINT) AS DOUBLE) AS e FROM cells) "
            "SELECT source, lang, o, e, "
            "((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)) / e AS contrib "
            "FROM w"),
        "bm25_topk_docs": (
            "WITH toks AS (SELECT doc_id, CASE WHEN trim(lower(text)) = '' THEN [] "
            "ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t FROM documents), "
            "base AS (SELECT doc_id, t, len(t) AS dl FROM toks), "
            "st AS (SELECT count(*) AS n, SUM(dl) AS total_len, "
            "SUM(CASE WHEN list_contains(t, 'hash') THEN 1 ELSE 0 END) AS df0, "
            "SUM(CASE WHEN list_contains(t, 'join') THEN 1 ELSE 0 END) AS df1, "
            "SUM(CASE WHEN list_contains(t, 'vector') THEN 1 ELSE 0 END) AS df2 "
            "FROM base), "
            "s AS (SELECT doc_id, 0.0 "
            "+ ((n - df0 + 0.5) / (df0 + 0.5)) * (CAST(len(list_filter(t, x -> x = 'hash')) AS DOUBLE) * 2.2 "
            "/ (CAST(len(list_filter(t, x -> x = 'hash')) AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(total_len AS DOUBLE) / n)))) "
            "+ ((n - df1 + 0.5) / (df1 + 0.5)) * (CAST(len(list_filter(t, x -> x = 'join')) AS DOUBLE) * 2.2 "
            "/ (CAST(len(list_filter(t, x -> x = 'join')) AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(total_len AS DOUBLE) / n)))) "
            "+ ((n - df2 + 0.5) / (df2 + 0.5)) * (CAST(len(list_filter(t, x -> x = 'vector')) AS DOUBLE) * 2.2 "
            "/ (CAST(len(list_filter(t, x -> x = 'vector')) AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(total_len AS DOUBLE) / n)))) "
            "AS score FROM base, st) "
            "SELECT doc_id, round(score, 4) AS score FROM s "
            "ORDER BY score DESC, doc_id LIMIT 10"),
        # index path == direct path row-for-row (shared score chain), so
        # the oracle is the SAME direct ranking with ok pinned TRUE; the
        # subquery is filled in after the dict literal (reuses the
        # bm25_topk_docs SQL verbatim)
        "bm25_index_docs": "__BM25_INDEX_PLACEHOLDER__",
        "mix_budget_docs": (
            # full mixture recomputation: per-source integer targets in
            # HUGEINT (exact like the driver's Python ints), epoch
            # replication via lateral range, identical md5-prefix partial
            "WITH pr(source, ppm) AS (VALUES ('src0', 470000), "
            "('src1', 310000), ('src2', 57000)), "
            "b AS (SELECT 3 * count(*) AS budget FROM documents), "
            "av AS (SELECT source, CAST(count(*) AS BIGINT) AS a "
            "FROM documents GROUP BY source), "
            "pl AS (SELECT pr.source, a, CAST((CAST(budget AS HUGEINT) * ppm) "
            "// 1000000 AS BIGINT) AS target FROM pr JOIN av USING (source), b), "
            "pl2 AS (SELECT source, a, target // a AS n_full, "
            "lower(lpad(to_hex((CAST(target - (target // a) * a AS HUGEINT) "
            "* 4294967296) // a), 8, '0')) AS thr FROM pl), "
            "kept AS (SELECT d.source, d.doc_id, e.epoch "
            "FROM documents d JOIN pl2 p USING (source), "
            "unnest(range(0, p.n_full + 1)) AS e(epoch) "
            "WHERE e.epoch < p.n_full OR "
            "substring(md5(d.source || '|mixbudget|' || "
            "CAST(d.doc_id AS VARCHAR)), 1, 8) < p.thr) "
            "SELECT source, CAST(count(*) AS BIGINT) AS n_rows_out, "
            "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys, "
            "CAST(max(epoch) AS BIGINT) AS max_epoch "
            "FROM kept GROUP BY source"),
        "bpe_train_docs": (
            # step-1 exactness: the weighted char-pair argmax over the word
            # table, same (-count, a, b) binary tie-break; init_symbols =
            # total weighted char count; n_merges/encode_ok pinned
            "WITH w AS (SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt FROM "
            "(SELECT unnest(CASE WHEN trim(lower(text)) = '' THEN [] "
            "ELSE string_split_regex(trim(lower(text)), '\\s+') END) AS t "
            "FROM documents) GROUP BY t), "
            "init AS (SELECT CAST(sum(cnt * length(word)) AS BIGINT) "
            "AS init_symbols FROM w), "
            "p AS (SELECT word[i:i] AS a, word[i+1:i+1] AS b, cnt "
            "FROM w, unnest(range(1, length(word))) AS u(i)), "
            "pc AS (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS c "
            "FROM p GROUP BY a, b), "
            "best AS (SELECT a, b, c FROM pc ORDER BY c DESC, a, b LIMIT 1) "
            "SELECT CAST(8 AS BIGINT) AS n_merges, a AS first_left, "
            "b AS first_right, c AS first_count, init_symbols, "
            "TRUE AS encode_ok FROM best, init"),
        "pmi_pairs_docs": (
            # same bigram extraction mirror as lm_bigram_docs; lift is the
            # identical double chain (BIGINT casts, one · then /), rounded
            # to 6 before the (lift desc, a, b) ordering on both engines
            "WITH d AS (SELECT CASE WHEN trim(lower(text)) = '' THEN [] "
            "ELSE list_transform(string_split_regex(trim(lower(text)), '\\s+'), "
            "t -> t[1:4096]) END AS ts FROM documents), "
            "bp AS (SELECT ts[i] AS a, ts[i+1] AS b "
            "FROM d, unnest(range(1, len(ts))) AS u(i)), "
            "cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bp GROUP BY 1, 2), "
            "ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY 1), "
            "cb AS (SELECT b, CAST(sum(c_ab) AS BIGINT) AS c_b FROM cab GROUP BY 1), "
            "tt AS (SELECT CAST(sum(c_ab) AS BIGINT) AS t FROM cab) "
            "SELECT a, b, c_ab, round((CAST(c_ab AS DOUBLE) * CAST(t AS DOUBLE)) "
            "/ (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE)), 6) AS lift "
            "FROM cab JOIN ca USING (a) JOIN cb USING (b), tt "
            "WHERE c_ab >= 5 "
            "ORDER BY lift DESC, a, b LIMIT 20"),
        "lm_bigram_docs": (
            # full MLE bigram model recomputed from scratch; integer cells
            # (1000000 * c_ab) // c_a — DuckDB // on non-negative BIGINTs ==
            # Spark div, and the doc score is an order-independent BIGINT sum;
            # t[1:4096] mirrors the max_word_chars key-size guard (no-op on
            # this corpus: max word length is 8)
            "WITH d AS (SELECT doc_id, CASE WHEN trim(lower(text)) = '' THEN [] "
            "ELSE list_transform(string_split_regex(trim(lower(text)), '\\s+'), "
            "t -> t[1:4096]) END AS ts FROM documents), "
            "bp AS (SELECT doc_id, ts[i] AS a, ts[i+1] AS b "
            "FROM d, unnest(range(1, len(ts))) AS u(i)), "
            "dp AS (SELECT doc_id, a, b, CAST(count(*) AS BIGINT) AS cnt "
            "FROM bp GROUP BY 1, 2, 3), "
            "cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bp GROUP BY 1, 2), "
            "ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY 1), "
            "sc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams, "
            "CAST(sum(cnt * coalesce((1000000 * c_ab) // c_a, 0)) AS BIGINT) AS lm_score "
            "FROM dp LEFT JOIN cab USING (a, b) LEFT JOIN ca USING (a) GROUP BY doc_id) "
            "SELECT doc_id, CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams, "
            "CAST(coalesce(lm_score, 0) AS BIGINT) AS lm_score "
            "FROM documents LEFT JOIN sc USING (doc_id)"),
        "top_terms_docs": (
            "WITH toks AS (SELECT doc_id, CASE WHEN trim(lower(text)) = '' THEN [] "
            "ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t FROM documents), "
            "p AS (SELECT doc_id, unnest(t) AS term FROM toks), "
            "f AS (SELECT doc_id, term FROM p WHERE length(term) >= 2), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM f GROUP BY doc_id, term), "
            "dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term), "
            "n AS (SELECT count(*) AS n FROM documents), "
            "s AS (SELECT doc_id, term, tf, df, tf * (n + 1.0) / (df + 1.0) AS score "
            "FROM tf JOIN dft USING (term), n), "
            "r AS (SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, df, score, "
            "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn "
            "FROM s) "
            "SELECT doc_id, term, tf, df, round(score, 4) AS score, "
            "CAST(rn AS INT) AS \"rank\" FROM r WHERE rn <= 3"),
        "paragraph_dedup_docs": (
            "WITH s AS (SELECT doc_id, text || chr(10) || 'SHARED FOOTER' || chr(10) || "
            "'GROUP-' || CAST(doc_id % 7 AS VARCHAR) AS text FROM documents), "
            "sp AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM s), "
            "q AS (SELECT doc_id, unnest(generate_series(1, len(parts))) AS pos, "
            "unnest(parts) AS para FROM sp), "
            "k AS (SELECT doc_id, pos, para, row_number() OVER "
            "(PARTITION BY para ORDER BY doc_id, pos) AS rn FROM q), "
            "r AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text_dedup, "
            "count(*) AS n_kept FROM k WHERE rn = 1 GROUP BY doc_id), "
            "t AS (SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT) "
            "AS n_paras FROM s) "
            "SELECT t.doc_id, COALESCE(r.text_dedup, '') AS text_dedup, t.n_paras, "
            "CAST(t.n_paras - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed "
            "FROM t LEFT JOIN r USING (doc_id)"),
        "repetition_features_docs": (
            "WITH toks AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN [] "
            "ELSE string_split_regex(trim(text), '\\s+') END AS t FROM documents), "
            "g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1), "
            "i -> t[i] || ' ' || t[i + 1])) AS g FROM toks WHERE len(t) >= 2), "
            "c AS (SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY doc_id, g), "
            "r AS (SELECT doc_id, cnt, row_number() OVER (PARTITION BY doc_id "
            "ORDER BY cnt DESC, g) AS rn, "
            "sum(cnt) OVER (PARTITION BY doc_id) AS total FROM c), "
            "top AS (SELECT doc_id, CAST(cnt AS BIGINT) AS top_2gram_count, "
            "round(cnt * 1.0 / total, 4) AS top_2gram_ratio FROM r WHERE rn = 1), "
            "lines AS (SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT) "
            "AS n_lines, CASE WHEN length(text) = 0 THEN 0.0 ELSE "
            "round(1.0 - len(list_distinct(string_split(text, chr(10)))) * 1.0 / "
            "len(string_split(text, chr(10))), 4) END AS dup_line_ratio FROM documents) "
            "SELECT l.doc_id, l.n_lines, l.dup_line_ratio, "
            "COALESCE(t.top_2gram_count, 0) AS top_2gram_count, "
            "COALESCE(t.top_2gram_ratio, 0.0) AS top_2gram_ratio "
            "FROM lines l LEFT JOIN top t USING (doc_id)"),
        "scrub_pii_docs": _scrub_pii_sql_query(),
        "canonical_url_docs": _canonical_url_sql_query(),
        "cosine_topk_embeddings": (
            "SELECT vec_id, " + cos + " AS sim FROM embeddings, "
            "(SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) "
            "ORDER BY sim DESC, vec_id LIMIT 10"),
        "knn_join_embeddings": (
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
            "q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10), "
            "c AS (SELECT q_id, e.vec_id AS nb_id, "
            "list_dot_product(e.v, qv) / (sqrt(list_dot_product(e.v, e.v)) * "
            "sqrt(list_dot_product(qv, qv))) AS sim FROM e, q), "
            "r AS (SELECT q_id, nb_id, sim, row_number() OVER "
            "(PARTITION BY q_id ORDER BY sim DESC, nb_id) AS rn FROM c) "
            "SELECT q_id, nb_id, round(sim, 4) AS sim FROM r WHERE rn <= 5"),
        "cosine_pairs": (
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) "
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            "round(list_dot_product(a.v, b.v) / "
            "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS sim "
            "FROM e a, e b WHERE a.vec_id < b.vec_id "
            "AND round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * "
            "sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3"),
        # the three LSH queries are certificates: the hash/candidate
        # internals are not SQL-expressible, so each emits deterministic
        # data-derived columns plus booleans the oracle pins TRUE
        "minhash_neardup_docs": (
            "SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS ok FROM documents"),
        "simhash_docs": "SELECT doc_id, TRUE AS ok FROM documents",
        "embedding_neardup_lsh": (
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) "
            "SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs, "
            "TRUE AS subset_ok, TRUE AS recall_ok FROM e a, e b "
            "WHERE a.vec_id < b.vec_id "
            "AND round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * "
            "sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3"),
        # clustering certificates: the k-means fit is not SQL-expressible,
        # so each emits oracle-derivable exact counts + booleans pinned TRUE
        "kmeans_clusters_emb": (
            "SELECT CAST(count(*) AS BIGINT) AS n_points, TRUE AS descent_ok, "
            "TRUE AS conserved_ok, TRUE AS cover_ok FROM embeddings"),
        "semantic_dedup_emb": (
            "SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 40) "
            "AS BIGINT) AS n_pairs, CAST(count(*) AS BIGINT) AS n_kept, "
            "TRUE AS sound_ok, TRUE AS complete_ok FROM embeddings"),
        "pq_adc_topk_emb": (
            "SELECT CAST(count(*) AS BIGINT) AS n_points, "
            "CAST(count(*) AS BIGINT) AS n_codes, "
            "TRUE AS descent_ok, TRUE AS recall_ok FROM embeddings"),
        "ivfpq_topk_emb": (
            "SELECT CAST(count(*) AS BIGINT) AS n_points, "
            "CAST(count(*) AS BIGINT) AS n_codes, TRUE AS descent_ok, "
            "TRUE AS self_ok, TRUE AS recall_ok FROM embeddings"),
        "ivfpq_knn_join_emb": (
            "SELECT CAST(q AS BIGINT) AS n_queries, "
            "CAST(5 * q AS BIGINT) AS n_pairs, "
            "TRUE AS self_ok, TRUE AS recall_ok FROM "
            "(SELECT count(*) AS q FROM embeddings WHERE vec_id < 20)"),
        "exact_jaccard_pairs": (
            "WITH t AS (SELECT doc_id, substring(text, 1, 4096) AS t FROM documents), "
            "sh AS (SELECT doc_id, list_distinct(list_transform("
            "generate_series(1, greatest(length(t) - 4, 1)), i -> t[i:i+4])) AS s FROM t) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / "
            "greatest(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)), 1) AS jaccard "
            "FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1"),
        # closure of the "same source within id-distance 25" graph = runs of
        # same-source docs whose consecutive gaps are ≤ 25 → per-source
        # gaps-and-islands (run start = no same-source predecessor within 25;
        # component = latest run start at or before the doc)
        "dedup_components_docs": (
            "WITH s AS (SELECT doc_id, source, "
            "lag(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS prev FROM documents), "
            "m AS (SELECT doc_id, source, CASE WHEN prev IS NULL OR doc_id - prev > 25 "
            "THEN 1 ELSE 0 END AS is_start FROM s) "
            "SELECT doc_id, max(CASE WHEN is_start = 1 THEN doc_id END) "
            "OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) "
            "AS component FROM m"),
        "simhash_complete_check": (
            "SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS ok FROM documents"),
        "cms_min_user_by_event_type": (
            "WITH m AS (SELECT event_type, min(user_id) AS u FROM events GROUP BY event_type) "
            "SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_exact, TRUE AS ok "
            "FROM events e JOIN m ON e.event_type = m.event_type AND e.user_id = m.u "
            "GROUP BY e.event_type"),
        "heavy_hitters_sources": (
            "SELECT source, count(*) AS cnt FROM documents GROUP BY source"),
        "decontam_documents": (
            "WITH t AS (SELECT doc_id, substring(text, 1, 4096) AS t FROM documents), "
            "sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
            "generate_series(1, greatest(length(t) - 29, 1)), i -> t[i:i+29]))) AS s FROM t), "
            "b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0) "
            "SELECT sh.doc_id, "
            "(sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*)) >= 0.5 "
            "AS contaminated FROM sh LEFT JOIN b ON sh.s = b.s GROUP BY sh.doc_id"),
        "hash_split_documents": _hash_split_sql(),
        "bpe_token_counts": (
            "SELECT doc_id, CAST("
            "len(regexp_extract_all(text, '[A-Za-z]+')) "
            "+ len(regexp_extract_all(text, '[0-9]+')) "
            "+ (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) "
            "AS BIGINT) AS n_bpe_tokens FROM documents"),
        "quality_features_docs": _quality_sql(),
        "sessions_per_user": (
            "WITH s AS (SELECT user_id, CASE WHEN lag(ts) OVER "
            "(PARTITION BY user_id ORDER BY ts) IS NULL OR "
            "epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 604800 "
            "THEN 1 ELSE 0 END AS ns FROM events) "
            "SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions FROM s GROUP BY user_id"),
        "asof_last_click_value": (
            "WITH r AS (SELECT user_id, ts, max(value) AS click_value FROM events "
            "WHERE event_type = 'click' GROUP BY user_id, ts) "
            "SELECT l.event_id, r.click_value FROM events l "
            "ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"),
        "range_join_events": (
            "SELECT c.user_id, epoch_us(c.ts) AS click_us, "
            "epoch_us(p.ts) AS purchase_us FROM "
            "(SELECT user_id, ts FROM events WHERE event_type = 'click') c JOIN "
            "(SELECT user_id, ts FROM events WHERE event_type = 'purchase') p "
            "ON c.user_id = p.user_id "
            "AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 600000000"),
        "interval_join_events": (
            "SELECT p.user_id, epoch_us(p.ts) AS purchase_us, "
            "epoch_us(c.ts) AS click_us FROM "
            "(SELECT user_id, ts FROM events WHERE event_type = 'purchase') p JOIN "
            "(SELECT user_id, ts FROM events WHERE event_type = 'click') c "
            "ON p.user_id = c.user_id "
            "AND epoch_us(p.ts) >= epoch_us(c.ts) "
            "AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000"),
        "props_k_stats_by_event_type": (
            "SELECT event_type, "
            "CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, "
            "CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k, "
            "CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k, "
            "count(json_extract(props, '$.k')) AS n_k "
            "FROM events GROUP BY event_type"),
        # outer CAST(... AS BIGINT) on every SUM: DuckDB promotes SUM(BIGINT)
        # to HUGEINT, which an Arrow fetch surfaces as decimal128 and the
        # driver's float path would hash differently from Spark's int64.
        "q3_shipping_priority": (
            "SELECT l_orderkey, CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) "
            "* (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4, "
            "strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' "
            "AND o_orderdate < TIMESTAMP '1997-06-15' "
            "AND l_shipdate > TIMESTAMP '1997-06-15' "
            "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
            "ORDER BY revenue_e4 DESC, l_orderkey LIMIT 10"),
        "q4_order_priority": (
            "SELECT o_orderpriority, count(*) AS order_count FROM orders "
            "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-04-01' "
            "AND EXISTS (SELECT 1 FROM lineitem "
            "WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') "
            "GROUP BY o_orderpriority"),
        "q6_forecast_revenue": (
            "SELECT CAST(COALESCE(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) "
            "* CAST(round(l_discount * 100) AS BIGINT)), 0) AS BIGINT) AS revenue_e4, "
            "count(*) AS n_items FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' "
            "AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7 "
            "AND l_quantity < 24"),
        "q10_returned_items": (
            "SELECT c_custkey, c_name, CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) "
            "* (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4, "
            "CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_e2, n_name "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "WHERE l_returnflag = 'R' "
            "AND o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-04-01' "
            "GROUP BY c_custkey, c_name, c_acctbal, n_name "
            "ORDER BY revenue_e4 DESC, c_custkey LIMIT 20"),
        "q14_promo_revenue": (
            "SELECT CAST(COALESCE(SUM(CASE WHEN p_type = 'PROMO' THEN "
            "CAST(round(l_extendedprice * 100) AS BIGINT) "
            "* (100 - CAST(round(l_discount * 100) AS BIGINT)) END), 0) AS BIGINT) "
            "AS promo_e4, "
            "CAST(COALESCE(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) "
            "* (100 - CAST(round(l_discount * 100) AS BIGINT))), 0) AS BIGINT) "
            "AS total_e4 "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE l_shipdate >= TIMESTAMP '1996-09-01' "
            "AND l_shipdate < TIMESTAMP '1996-10-01'"),
        "rolling_user_spend": (
            "SELECT user_id, epoch_us(ts) AS ts_us, "
            "CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) "
            "AS spend_1h_e2, COUNT(value) OVER w AS n_1h "
            "FROM events WHERE value IS NOT NULL "
            "WINDOW w AS (PARTITION BY user_id ORDER BY ts "
            "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"),
        "rollup_pricing": (
            "SELECT COALESCE(l_returnflag, 'ALL') AS flag, "
            "COALESCE(l_linestatus, 'ALL') AS status, "
            "CAST(GROUPING(l_returnflag) AS INT) AS grp_f, "
            "CAST(GROUPING(l_linestatus) AS INT) AS grp_s, "
            "CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty, "
            "count(*) AS n FROM lineitem "
            "GROUP BY ROLLUP(l_returnflag, l_linestatus)"),
        "q18_large_orders": (
            "SELECT c_name, c_custkey, o_orderkey, "
            "strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, "
            "CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_e2, "
            "CAST(round(SUM(l_quantity)) AS BIGINT) AS sum_qty "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE l_orderkey IN (SELECT l_orderkey FROM lineitem "
            "GROUP BY l_orderkey HAVING SUM(l_quantity) > 300) "
            "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
            "ORDER BY totalprice_e2 DESC, o_orderkey LIMIT 10"),
        "q19_discounted_revenue": (
            "SELECT CAST(COALESCE(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) "
            "* (100 - CAST(round(l_discount * 100) AS BIGINT))), 0) AS BIGINT) "
            "AS revenue_e4, count(*) AS n_items "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 "
            "AND l_quantity BETWEEN 1 AND 20) "
            "OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 "
            "AND l_quantity BETWEEN 5 AND 30)"),
        "q5_local_supplier_volume": (
            "SELECT n_name, CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) "
            "* (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4 "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' GROUP BY n_name "
            "ORDER BY revenue_e4 DESC, n_name"),
        "q1_pricing_summary": (
            "WITH a AS (SELECT l_returnflag, l_linestatus, "
            "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, "
            "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c2, "
            "CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_price_c4, "
            "CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) AS BIGINT) AS sum_charge_c6, "
            "CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_c2, "
            "count(*) AS count_order "
            "FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus) "
            "SELECT l_returnflag, l_linestatus, sum_qty, sum_base_c2, "
            "sum_disc_price_c4, sum_charge_c6, "
            "sum_qty / count_order AS avg_qty, "
            "sum_base_c2 / count_order AS avg_price_c2, "
            "sum_disc_c2 / count_order AS avg_disc_c2, "
            "count_order FROM a"),
        "top3_orders_per_customer": (
            "SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM ("
            "SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER ("
            "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) "
            "WHERE rn <= 3"),
        "distinct_parts_per_returnflag": (
            "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts "
            "FROM lineitem GROUP BY l_returnflag"),
        "customers_without_orders": (
            "SELECT c_custkey FROM customer WHERE NOT EXISTS ("
            "SELECT 1 FROM orders WHERE o_custkey = c_custkey "
            "AND o_orderdate >= TIMESTAMP '1999-01-01')"),
        "q2_min_cost_supplier": (
            "WITH ps AS (SELECT DISTINCT p_partkey, p_brand, s_suppkey, "
            "s_name, n_name, CAST(round(s_acctbal * 100) AS BIGINT) AS cost_c2 "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE p_size = 10 AND p_type = 'LARGE' AND r_name = 'EUROPE') "
            "SELECT p_partkey, p_brand, s_suppkey, s_name, n_name, cost_c2 "
            "FROM ps WHERE cost_c2 = (SELECT min(cost_c2) FROM ps p2 "
            "WHERE p2.p_partkey = ps.p_partkey)"),
        "q16_supplier_part_counts": (
            "SELECT p_brand, p_type, p_size, "
            "count(DISTINCT l_suppkey) AS supplier_cnt "
            "FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) li "
            "JOIN part ON l_partkey = p_partkey "
            "WHERE p_brand <> 'Brand#1' "
            "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier "
            "WHERE s_acctbal < 0) "
            "GROUP BY p_brand, p_type, p_size"),
        "q20_part_shippers": (
            "WITH pli AS (SELECT l_partkey, l_suppkey, l_shipdate, "
            "CAST(round(l_quantity) AS BIGINT) AS q FROM lineitem "
            "JOIN part ON l_partkey = p_partkey WHERE p_name LIKE '%red%'), "
            "yq AS (SELECT l_partkey, l_suppkey, CAST(SUM(q) AS BIGINT) AS yq "
            "FROM pli WHERE year(l_shipdate) = 1996 GROUP BY 1, 2), "
            "tq AS (SELECT l_partkey, l_suppkey, CAST(SUM(q) AS BIGINT) AS tq "
            "FROM pli GROUP BY 1, 2) "
            "SELECT s_suppkey, s_name FROM supplier "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE n_name = 'NATION_3' AND s_suppkey IN ("
            "SELECT DISTINCT yq.l_suppkey FROM yq JOIN tq "
            "ON yq.l_partkey = tq.l_partkey AND yq.l_suppkey = tq.l_suppkey "
            "WHERE yq.yq * 2 > tq.tq)"),
        "pps_sample_docs": _pps_sample_sql_query(),
        "shared_kgram_docs": (
            "WITH d AS (SELECT DISTINCT doc_id, gram FROM ("
            "SELECT doc_id, unnest(list_transform("
            "range(1, length(text) - 24 + 2), i -> text[i:i+23])) AS gram "
            "FROM documents WHERE length(text) >= 24)), "
            "okg AS (SELECT gram FROM d GROUP BY gram "
            "HAVING count(*) BETWEEN 2 AND 64) "
            "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "CAST(count(*) AS BIGINT) AS n_shared "
            "FROM d a JOIN okg USING (gram) JOIN d b USING (gram) "
            "WHERE a.doc_id < b.doc_id GROUP BY 1, 2"),
        "kgram_dup_stats_docs": (
            "WITH d AS (SELECT DISTINCT doc_id, gram FROM ("
            "SELECT doc_id, unnest(list_transform("
            "range(1, length(text) - 24 + 2), i -> text[i:i+23])) AS gram "
            "FROM documents WHERE length(text) >= 24)), "
            "pd AS (SELECT doc_id, count(*) AS n_grams FROM d GROUP BY 1), "
            "w AS (SELECT gram, min(doc_id) AS win FROM d GROUP BY 1), "
            "wd AS (SELECT win AS doc_id, count(*) AS n_wins FROM w GROUP BY 1) "
            "SELECT pd.doc_id, CAST(n_grams AS BIGINT) AS n_grams, "
            "CAST(n_grams - coalesce(n_wins, 0) AS BIGINT) AS n_dup_grams "
            "FROM pd LEFT JOIN wd USING (doc_id)"),
        "set_sim_docs": (
            # full token-equi-join ground truth (no prefix filter): the
            # Spark side's filtered plan must reproduce it exactly
            "WITH d AS (SELECT doc_id, list_distinct(CASE WHEN trim(text) = '' "
            "THEN [] ELSE string_split_regex(trim(lower(text)), '\\s+') END) AS ts "
            "FROM documents), "
            "n AS (SELECT doc_id, len(ts) AS n FROM d WHERE len(ts) > 0), "
            "t AS (SELECT doc_id, unnest(ts) AS tok FROM d), "
            "pr AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter "
            "FROM t a JOIN t b USING (tok) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), "
            "j AS (SELECT ia, ib, CAST(inter AS BIGINT) AS inter "
            "FROM pr JOIN n na ON na.doc_id = ia JOIN n nb ON nb.doc_id = ib "
            "WHERE inter * 1000 >= 800 * (na.n + nb.n - inter)), "
            "bi AS (SELECT ia AS doc_id, inter FROM j "
            "UNION ALL SELECT ib, inter FROM j) "
            "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_neighbors, "
            "CAST(sum(inter) AS BIGINT) AS sum_inter FROM bi GROUP BY doc_id"),
        "decode_media_features": (
            # the generator emits one PGM per even doc_id and one WAV per
            # odd; decode mismatches against carried ground truth pin to 0
            "SELECT 'audio/wav' AS mime, count(*) AS n_media, "
            "CAST(0 AS BIGINT) AS n_mismatch, TRUE AS ok "
            "FROM documents WHERE doc_id % 2 = 1 "
            "UNION ALL SELECT 'image/pgm', count(*), CAST(0 AS BIGINT), "
            "TRUE FROM documents WHERE doc_id % 2 = 0"),
        "bloom_distinct_estimate": (
            "SELECT count(DISTINCT user_id) AS n_distinct_exact, TRUE AS ok "
            "FROM events WHERE user_id IS NOT NULL"),
        "weighted_quantile_docs": (
            "WITH t AS (SELECT CAST(n_chars AS BIGINT) AS v, "
            "CAST(CASE WHEN trim(text) = '' THEN 0 ELSE "
            "len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS w "
            "FROM documents), "
            "f AS (SELECT v, w FROM t WHERE w > 0), "
            "g AS (SELECT v, CAST(SUM(w) AS BIGINT) AS w FROM f GROUP BY v), "
            "c AS (SELECT v, SUM(w) OVER (ORDER BY v) AS cw, "
            "(SELECT CAST(SUM(w) AS BIGINT) FROM g) AS tot FROM g) "
            "SELECT CAST(any_value(tot) AS BIGINT) AS total_w, "
            "CAST(min(CASE WHEN cw * 2 >= tot THEN v END) AS BIGINT) "
            "AS exact_med, TRUE AS ok FROM c"),
        "cbf_delete_membership": (
            "WITH clicks AS (SELECT user_id, value FROM events "
            "WHERE event_type = 'click' AND user_id IS NOT NULL), "
            "rem AS (SELECT DISTINCT user_id FROM clicks "
            "WHERE value IS NULL OR value >= 95) "
            "SELECT (SELECT count(*) FROM rem) AS n_remaining_users, "
            "(SELECT count(DISTINCT user_id) FROM clicks WHERE user_id NOT IN "
            "(SELECT user_id FROM rem)) AS n_removed_users, TRUE AS ok"),
        "q7_nation_volume": (
            "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
            "CAST(year(l_shipdate) AS INT) AS l_year, "
            f"CAST(SUM({_REV_E4_SQL}) AS BIGINT) AS revenue_e4 "
            "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
            "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
            "WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_11') "
            "OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_12')) "
            "AND l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1998-01-01' "
            "GROUP BY 1, 2, 3"),
        "q8_market_share": (
            "SELECT CAST(year(o_orderdate) AS INT) AS o_year, "
            "CAST(COALESCE(SUM(CASE WHEN n1.n_name = 'NATION_3' THEN "
            f"{_REV_E4_SQL} END), 0) AS BIGINT) AS nation_rev_e4, "
            f"CAST(SUM({_REV_E4_SQL}) AS BIGINT) AS total_rev_e4 "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
            "JOIN region ON n2.n_regionkey = r_regionkey "
            "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
            "WHERE p_type = 'ECONOMY' AND r_name = 'ASIA' "
            "AND o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1998-01-01' "
            "GROUP BY 1"),
        "q9_product_profit": (
            "SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year, "
            f"CAST(SUM({_REV_E4_SQL} "
            "- CAST(round(p_retailprice * 100) AS BIGINT) "
            "* CAST(round(l_quantity) AS BIGINT) * 100) AS BIGINT) AS amount_e4 "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE p_name LIKE '%red%' "
            "GROUP BY 1, 2"),
        "q11_important_parts": (
            "WITH scoped AS (SELECT l_partkey, "
            f"{_REV_E4_SQL} AS rev FROM lineitem "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE n_name = 'NATION_12') "
            "SELECT l_partkey, CAST(SUM(rev) AS BIGINT) AS value_e4 "
            "FROM scoped GROUP BY l_partkey "
            "HAVING CAST(SUM(rev) AS BIGINT) > "
            "(SELECT CAST(SUM(rev) AS BIGINT) // "
            "(2 * count(DISTINCT l_partkey)) FROM scoped)"),
        "q12_ship_delay_priority": (
            "SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY "
            "THEN 'late' WHEN l_shipdate >= o_orderdate "
            "THEN 'on_time' ELSE 'pre_order' END AS ship_cat, "
            "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
            "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY 1"),
        "q13_customer_distribution": (
            "SELECT c_count, count(*) AS custdist FROM ("
            "SELECT c_custkey, count(o_orderkey) AS c_count "
            "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
            "AND o_orderpriority <> '5-LOW' "
            "GROUP BY c_custkey) GROUP BY c_count"),
        "q15_top_supplier": (
            "WITH rev AS (SELECT l_suppkey, "
            f"CAST(SUM({_REV_E4_SQL}) AS BIGINT) AS total_revenue_e4 "
            "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey) "
            "SELECT s_suppkey, s_name, total_revenue_e4 "
            "FROM rev JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE total_revenue_e4 = (SELECT max(total_revenue_e4) FROM rev)"),
        "q17_small_qty_revenue": (
            "WITH stats AS (SELECT l_partkey AS pk, "
            "CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_q, "
            "count(*) AS n FROM lineitem GROUP BY l_partkey) "
            "SELECT CAST(COALESCE(SUM(CAST(round(l_extendedprice * 100) AS "
            "BIGINT)), 0) AS BIGINT) AS total_e2, count(*) AS n_items "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN stats ON l_partkey = pk "
            "WHERE p_brand = 'Brand#3' AND p_size = 5 "
            "AND CAST(round(l_quantity) AS BIGINT) * 5 * n < sum_q"),
        "q21_waiting_suppliers": (
            "WITH li AS (SELECT l_orderkey, l_suppkey, l_returnflag "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_orderstatus = 'F'), "
            "l1 AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk "
            "FROM li WHERE l_returnflag = 'R') "
            "SELECT s_name, count(*) AS numwait FROM l1 "
            "JOIN supplier ON sk = s_suppkey "
            "WHERE EXISTS (SELECT 1 FROM li l2 WHERE l2.l_orderkey = ok "
            "AND l2.l_suppkey <> sk) "
            "AND NOT EXISTS (SELECT 1 FROM li l3 WHERE l3.l_orderkey = ok "
            "AND l3.l_suppkey <> sk AND l3.l_returnflag = 'R') "
            "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"),
        "q22_sales_opportunity": (
            "WITH cust AS (SELECT c_custkey, c_nationkey, "
            "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c2, c_acctbal "
            "FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)), "
            "pos AS (SELECT CAST(SUM(bal_c2) AS BIGINT) AS sum_pos, "
            "count(*) AS n_pos FROM cust WHERE c_acctbal > 0) "
            "SELECT CAST(c_nationkey AS INT) AS cntrycode, "
            "count(*) AS numcust, CAST(SUM(bal_c2) AS BIGINT) AS totacctbal_c2 "
            "FROM cust, pos "
            "WHERE bal_c2 * n_pos > sum_pos "
            "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
            "AND o_orderdate >= TIMESTAMP '2000-01-01') "
            "GROUP BY 1"),
    }
    out["bm25_index_docs"] = ("SELECT doc_id, score, TRUE AS ok FROM ("
                              + out["bm25_topk_docs"] + ")")
    return out
