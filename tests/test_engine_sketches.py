"""HLL and count-min built in the engine (Catalyst cells + native aggregates)
against the numpy kernels (`update_hashes`), which stay the oracle.

The states must be byte-identical: global, by group and through
`sketch_cube`, with NULL keys and NULL groups dropped, and for empty and
one-row inputs.  The edge-hash tests pin the Catalyst index arithmetic
itself on chosen hashes (the log2 correction of HLL's rho, the 32-bit
halves of count-min's index), and the plan-shape test pins how many Python
stages each public call runs.
"""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparksketch.cms import CMS, CMS_SEEDS, cms_build, cms_by_group
from sparksketch.hashing import hash_col, to_u64
from sparksketch.hll import HLL, HLL_SEED, _bit_length_u64, hll_by_group, hll_distinct
from sparksketch.kll import kll_build
from sparksketch.sketch import _CUBE_SEP, build_sketch, sketch_by_group, sketch_cube

_N = 6000


@pytest.fixture(scope="module")
def keyed(spark):
    """Keys with repeats and NULLs, two group columns with NULLs."""
    rows = []
    for i in range(_N):
        key = None if i % 97 == 0 else f"k{(i * 7919) % 2500}"
        grp = None if i % 89 == 0 else f"g{i % 5}"
        sub = None if i % 83 == 0 else i % 3
        rows.append((key, grp, sub))
    return spark.createDataFrame(rows, "k string, g string, s int").cache()


def _hashes(df, seeds, *groups):
    """The JVM xxhash64 columns of the non-NULL keys, with their groups."""
    return (df.filter(F.col("k").isNotNull())
            .select(*groups, *[hash_col(F.col("k"), s).alias(f"h{i}")
                               for i, s in enumerate(seeds)]).toPandas())


def _kernel(factory, pdf, n):
    sk = factory(0)
    if len(pdf):
        sk.update_hashes(*[to_u64(pdf[f"h{i}"].to_numpy()) for i in range(n)])
    return sk.to_bytes()


def _kernel_by_group(factory, pdf, n, key):
    pdf = pdf.dropna(subset=[key])
    return {g: _kernel(factory, part, n) for g, part in pdf.groupby(key)}


@pytest.mark.parametrize("p", [4, 12, 14, 18])
def test_hll_engine_byte_identical(keyed, p):
    factory = lambda pid: HLL(p)
    pdf = _hashes(keyed, (HLL_SEED,), "g", "s")
    assert build_sketch(keyed, "k", factory, seeds=(HLL_SEED,)).to_bytes() \
        == _kernel(factory, pdf, 1)

    got = {r.group: bytes(r.state) for r in hll_by_group(keyed, "g", "k", p=p).collect()}
    assert got == _kernel_by_group(factory, pdf, 1, "g")

    cube = sketch_cube(keyed, ["g", "s"], "k", factory, seeds=(HLL_SEED,)).collect()
    pdf = pdf.dropna(subset=["g", "s"])
    pdf["cell"] = pdf["g"] + _CUBE_SEP + pdf["s"].astype(int).astype(str)
    assert {r.g + _CUBE_SEP + r.s: bytes(r.state) for r in cube} \
        == _kernel_by_group(factory, pdf, 1, "cell")


@pytest.mark.parametrize("w", [1000, 8192, 65536])
def test_cms_engine_byte_identical(keyed, w):
    factory = lambda pid: CMS(5, w)
    pdf = _hashes(keyed, CMS_SEEDS, "g")
    sk = cms_build(keyed, "k", d=5, w=w)
    assert sk.to_bytes() == _kernel(factory, pdf, 2)
    assert sk.total == len(pdf)

    got = {r.group: bytes(r.state) for r in cms_by_group(keyed, "g", "k", d=5, w=w).collect()}
    assert got == _kernel_by_group(factory, pdf, 2, "g")


@pytest.mark.parametrize("rows", [0, 1])
def test_engine_empty_and_one_row(spark, rows):
    df = spark.createDataFrame([("only", "g0")][:rows], "k string, g string")
    for factory, seeds in ((lambda pid: HLL(12), (HLL_SEED,)),
                           (lambda pid: CMS(5, 1000), CMS_SEEDS)):
        pdf = _hashes(df, seeds, "g")
        assert build_sketch(df, "k", factory, seeds=seeds).to_bytes() \
            == _kernel(factory, pdf, len(seeds))
        got = {r.group: bytes(r.state) for r in
               sketch_by_group(df, "g", "k", factory, seeds=seeds).collect()}
        assert got == _kernel_by_group(factory, pdf, len(seeds), "g")


def _signed(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >> 63 else v


def _edge_hashes() -> list[int]:
    """0, 1, -1, Long.MIN_VALUE, 2^k - 1 and 2^k for every k, and the same
    values shifted past each tested p (so that h >>> p hits them too)."""
    base = [0, 1, -1, -(1 << 63)]
    for k in range(65):
        base += [(1 << k) - 1, 1 << k]
    out = set()
    for v in base:
        for s in (0, 4, 12, 14, 18):
            out.add(_signed(v << s))
            out.add(_signed((v << s) | ((1 << s) - 1)))
    return sorted(out)


@pytest.mark.parametrize("p", [4, 12, 14, 18])
def test_hll_engine_cells_on_edge_hashes(spark, p):
    hs = _edge_hashes()
    df = spark.createDataFrame([(h,) for h in hs], "h long")
    cell, rho = HLL(p).engine_cells(F.col("h"))
    got = {r.h: (r.cell, r.rho) for r in
           df.select("h", cell.alias("cell"), rho.alias("rho")).collect()}
    u = to_u64(np.array(hs, dtype=np.int64))
    idx = (u & np.uint64((1 << p) - 1)).astype(np.int64)
    want_rho = (64 - p) - _bit_length_u64(u >> np.uint64(p)) + 1
    for h, i, r in zip(hs, idx, want_rho):
        assert got[h] == (int(i), int(r)), h


@pytest.mark.parametrize("w", [1, 3, 1000, 65536, (1 << 31) - 1])
def test_cms_engine_cells_on_edge_hashes(spark, w):
    d = 7
    cms = CMS.__new__(CMS)  # the index math only; no 2^31-wide counter matrix
    cms.d, cms.w = d, w
    hs = [0, 1, -1, -(1 << 63), (1 << 63) - 1, (1 << 32) - 1, 1 << 32,
          -(1 << 32), 0x7FFFFFFF80000000, 0x123456789ABCDEF]
    pairs = [(a, b) for a in hs for b in hs]
    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(pairs)],
                               "i long, h1 long, h2 long")
    cell, _ = cms.engine_cells(F.col("h1"), F.col("h2"))
    got = {(r.i, r.cell) for r in df.select("i", cell.alias("cell")).collect()}
    h1 = to_u64(np.array([a for a, _ in pairs], dtype=np.int64))
    h2 = to_u64(np.array([b for _, b in pairs], dtype=np.int64))
    want = {(i, int(c) + j * w) for j in range(d)
            for i, c in enumerate(cms._indices(h1, h2, j))}
    assert got == want


def test_cms_rejects_unsafe_width():
    for w in (0, 1 << 31, 1 << 32):
        with pytest.raises(ValueError):
            CMS(5, w)


_PY_NODE = re.compile(r"\b(MapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython|"
                      r"FlatMapGroupsIn(?:Arrow|Pandas)|FlatMapCoGroupsIn(?:Arrow|Pandas)|"
                      r"AggregateInPandas|WindowInPandas)\b")


def _python_nodes(spark, action) -> list[str]:
    """Python plan nodes of every SQL execution ``action`` runs (AQE final
    plans), read from the session's SQL status store."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id():
        bus.waitUntilEmpty()
        ex = store.executionsList()
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    first = last_id() + 1
    action()
    nodes = []
    for i in range(first, last_id() + 1):
        ui = store.execution(i)
        if ui.isDefined():
            tree = ui.get().physicalPlanDescription().split("\n\n")[0]
            nodes += _PY_NODE.findall(tree.split("== Initial Plan ==")[0])
    return nodes


def test_python_stages_per_call(spark, keyed):
    assert _python_nodes(spark, lambda: hll_distinct(keyed, "k", p=12)) == []
    assert _python_nodes(spark, lambda: cms_build(keyed, "k", d=5, w=1000)) == []
    assert _python_nodes(spark, lambda: hll_by_group(keyed, "g", "k", p=12).collect()) \
        == ["FlatMapGroupsInArrow"]
    assert _python_nodes(spark, lambda: cms_by_group(keyed, "g", "k", w=1000).collect()) \
        == ["FlatMapGroupsInArrow"]
    # the check sees Python stages: the numpy-kernel KLL build runs one
    nums = keyed.select(F.length("k").alias("n"))
    assert _python_nodes(spark, lambda: kll_build(nums, "n")) == ["MapInArrow"]
