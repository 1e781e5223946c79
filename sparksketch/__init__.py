"""sparksketch — a PySpark-native distributed sketch / approximate-aggregation library.

Brand-new engine (NOT a port) with the capabilities of the Rust reference
``WCM-CS/perfect_bloomfilter`` (read-only snapshot at /root/reference),
re-expressed Spark-first:

- :mod:`sparksketch.bloom` — the centerpiece: a hybrid dynamically-scalable
  cascading multidimensional Bloom filter as a *mergeable byte-array sketch*
  built with vectorized Arrow UDFs and OR-merged by one linear driver fold.
- :mod:`sparksketch.hll`, :mod:`sparksketch.cms`, :mod:`sparksketch.tdigest`,
  :mod:`sparksketch.kll` — the same mergeable partial/final pattern for
  distinct-count, frequency, and quantiles.
- :mod:`sparksketch.webtext` — Common-Crawl-style webpage synthesis,
  byte-identical text extraction, key guards, skew salting.
- :mod:`sparksketch.dedup`, :mod:`sparksketch.similarity`,
  :mod:`sparksketch.textstats`, :mod:`sparksketch.multimodal` — the
  training-data-pipeline operators (dedup, ANN, text analysis, multimodal
  plumbing).
- :mod:`sparksketch.checkpoint` — per-partition sketch state with lineage so
  a killed build resumes without redoing completed partitions.

Everything is pure Python over pyspark.sql DataFrames; all kernels are
vectorized numpy over Arrow batches — no per-row Python anywhere.
"""

from sparksketch.config import Accuracy, BloomConfig, InitialCapacity, Throughput, WorkerCores
from sparksketch.bloom import (
    BloomFilterState,
    bloom_by_group,
    build_bloom,
    build_bloom_states,
    compact_bloom,
    membership_join,
    with_group_membership,
    with_membership,
)
from sparksketch.cms import CMS, cms_build, cms_by_group, cms_topk
from sparksketch.decontam import (
    benchmark_filter,
    contamination,
    decontaminate,
    hash_split,
)
from sparksketch.dedup import connected_components, dedup_representatives
from sparksketch.events import asof_join, sessionize
from sparksketch.hll import HLL, hll_by_group, hll_distinct
from sparksketch.kll import KLL, kll_build, kll_by_group
from sparksketch.tdigest import TDigest, tdigest_build, tdigest_by_group
from sparksketch.topk import MisraGries, heavy_hitters, heavy_hitters_by_group
from sparksketch.sketch import build_sketch, estimate_col, sketch_agg_udf, sketch_by_group

__all__ = [
    "Accuracy", "BloomConfig", "BloomFilterState", "CMS", "HLL",
    "InitialCapacity", "KLL", "MisraGries", "TDigest", "Throughput", "WorkerCores",
    "asof_join", "benchmark_filter", "bloom_by_group", "build_bloom", "build_bloom_states",
    "build_sketch", "cms_build", "cms_by_group", "cms_topk", "compact_bloom",
    "connected_components", "contamination", "decontaminate",
    "dedup_representatives", "estimate_col", "hash_split",
    "heavy_hitters", "heavy_hitters_by_group",
    "hll_by_group", "hll_distinct", "kll_build", "kll_by_group",
    "membership_join", "sessionize", "sketch_agg_udf", "sketch_by_group",
    "tdigest_build", "tdigest_by_group", "with_group_membership", "with_membership",
]

__version__ = "0.1.0"
