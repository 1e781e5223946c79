"""The shared mergeable partial/final pattern for all sketches.

Every sketch in the library (Bloom has its own sharded variant in bloom.py;
HLL/CMS/t-digest/KLL/Theta/AMS use this module) follows the same distributed
shape — the Spark-native reformulation of the reference's "insert into a
shared mutable structure" model:

1. **Project** — key/value extraction + JVM-side ``xxhash64`` hash columns
   (whole-stage codegen; the Python kernel never hashes).
2. **Partial** — a map-side combine, so a global sketch shuffles no raw rows
   (at 100 TB this is the difference between shuffling nothing and
   shuffling everything).  Two forms:

   - *engine* (HLL, CMS: classes with ``engine_cells``): Catalyst
     expressions map each row to the sketch cell(s) it writes, and a native
     ``groupBy(cell)`` aggregate (``max`` for HLL registers, ``count`` for
     CMS counters) combines them map-side.  No Python runs per scan
     partition.
   - *kernel* (every other sketch): ``mapInArrow`` builds one sketch per
     scan partition with the class's numpy update.
3. **Final** — a global engine build pulls its ≤ m (or d·w) aggregated
   cells with ``toArrow()`` and fills the sketch on the driver; a kernel
   build collects the per-partition blobs and merges them on the driver
   (``treeAggregate`` past 256 partitions).  Per-group sketches shuffle
   only the (group × cell) aggregate or the (group × partition) blobs, then
   build each group's state in one Arrow / pandas group function.

A kernel sketch class implements: ``update_hashes(*h: np.uint64[])`` or
``update_values(v: np.float64[])``, ``merge(other) -> self``, ``to_bytes()``,
classmethod ``from_bytes(data)``.  An engine sketch class adds
``engine_cells(*h: Column) -> (cell, value)`` (``cell`` may be a generator
such as ``explode``), ``engine_agg`` (the aggregate over ``value``) and
``fill_cells(cells, values) -> self``; its states are byte-identical to the
kernel's.  Merges must be associative + commutative (verified in tests by
shuffling merge order).
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksketch.hashing import hash_col, to_u64

_STATE_SCHEMA = "state binary"
_GROUP_STATE_SCHEMA = "group string, state binary"


def _proj_cols(col, seeds: tuple[int, ...] | None, numeric: bool, keyed: bool = False,
               weight_col: str | None = None):
    if keyed:
        # raw-key sketches (heavy hitters): the sketch must return the keys
        # themselves, so the string column ships to the kernel
        return [F.col(col).cast("string").alias("_s0")]
    if seeds is not None:
        key = F.col(col).cast("string")
        return [hash_col(key, s).alias(f"_h{i}") for i, s in enumerate(seeds)]
    if numeric:
        cols = [F.col(col).cast("double").alias("_v0")]
        if weight_col is not None:
            cols.append(F.col(weight_col).cast("double").alias("_w0"))
        return cols
    raise ValueError("sketch needs seeds= (hash sketch), numeric=True (value sketch), "
                     "or keyed=True (raw-key sketch)")


def _drop_nulls(df: DataFrame, col: str) -> DataFrame:
    # SQL aggregate semantics: COUNT(DISTINCT)/GROUP BY counts ignore NULLs,
    # so hash sketches must too (xxhash64(NULL) would otherwise count as one
    # phantom distinct value). Pushed-down IsNotNull, free at the scan.
    return df.filter(F.col(col).isNotNull())


def _update_from_batch(sk, batch: pa.RecordBatch, rows: np.ndarray | None,
                       seeds: tuple[int, ...] | None, numeric: bool,
                       keyed: bool = False) -> None:
    if keyed:
        col = batch.column("_s0")
        if rows is not None:
            col = col.take(pa.array(rows))
        sk.update_keys(col)
    elif seeds is not None:
        hs = []
        for i in range(len(seeds)):
            h = to_u64(batch.column(f"_h{i}").to_numpy(zero_copy_only=False))
            hs.append(h if rows is None else h[rows])
        sk.update_hashes(*hs)
    else:
        v = batch.column("_v0").to_numpy(zero_copy_only=False)
        if "_w0" in batch.schema.names:
            w = batch.column("_w0").to_numpy(zero_copy_only=False)
            sk.update_weighted(v if rows is None else v[rows],
                               w if rows is None else w[rows])
        else:
            sk.update_values(v if rows is None else v[rows])


def _engine_cells(proj: DataFrame, sk, n_hashes: int, keys: list[str]) -> DataFrame:
    """``(*keys, _cell, _val)``: one row per written sketch cell, aggregated
    by the sketch's ``engine_agg`` (partial aggregate map-side, final after
    the shuffle)."""
    cell, value = sk.engine_cells(*[F.col(f"_h{i}") for i in range(n_hashes)])
    return (proj.select(*keys, cell.alias("_cell"), value.alias("_val"))
            .groupBy(*keys, "_cell").agg(sk.engine_agg(F.col("_val")).alias("_val")))


def _fill(sk, cells: pa.Table):
    return sk.fill_cells(cells.column("_cell").to_numpy(), cells.column("_val").to_numpy())


def _has_engine(sk, seeds, keyed: bool) -> bool:
    return seeds is not None and not keyed and hasattr(sk, "engine_cells")


def fold_states(states: DataFrame, cls, factory: Callable,
                tree_depth: int | None = None):
    """Fold a one-binary-column partial-state DataFrame into one sketch:
    collect + driver fold for ≤ 256 partitions (partial states are
    blob-sized, so one job beats a treeReduce's lineage re-runs), else
    ``treeAggregate`` in log depth with an empty-blob zero."""
    n_parts = states.rdd.getNumPartitions()
    if n_parts <= 256:
        blobs = [bytes(r[0]) for r in states.collect()]
        if not blobs:
            return factory(0)
        acc = cls.from_bytes(blobs[0])
        for b in blobs[1:]:
            acc = acc.merge(cls.from_bytes(b))
        return acc

    def merge_blob(a: bytes, b: bytes) -> bytes:
        if a == b"":
            return b
        if b == b"":
            return a
        return cls.from_bytes(a).merge(cls.from_bytes(b)).to_bytes()

    depth = tree_depth or max(2, min(5, int(math.ceil(math.log2(max(n_parts, 2))))))
    merged = states.rdd.map(lambda r: bytes(r[0])).treeAggregate(b"", merge_blob, merge_blob, depth=depth)
    return factory(0) if merged == b"" else cls.from_bytes(merged)


def build_sketch(df: DataFrame, col: str, factory: Callable, *,
                 seeds: tuple[int, ...] | None = None, numeric: bool = False,
                 keyed: bool = False, tree_depth: int | None = None,
                 weight_col: str | None = None):
    """Global sketch over a column.  No shuffle of raw rows: an engine sketch
    (HLL, CMS) aggregates its cells in the engine and fills the sketch from
    the ≤ m (or d·w) cell rows; any other sketch builds one partial per
    scan partition and merges the blobs.  ``weight_col`` (numeric sketches
    only) ships a mass column alongside the value and routes updates
    through the sketch's ``update_weighted``; NULL/non-positive weights
    are filtered at the scan (the kernel drops them too — the pushed
    predicate just saves the Arrow transfer)."""
    proj = _drop_nulls(df, col)
    if weight_col is not None:
        if not numeric:
            raise ValueError("weight_col is only meaningful for numeric sketches")
        proj = proj.filter(F.col(weight_col).isNotNull()
                           & (F.col(weight_col).cast("double") > 0))
    proj = proj.select(*_proj_cols(col, seeds, numeric, keyed, weight_col))
    sk0 = factory(0)
    if _has_engine(sk0, seeds, keyed):
        return _fill(sk0, _engine_cells(proj, sk0, len(seeds), []).toArrow())

    def fn(batches):
        ctx = TaskContext.get()
        sk = factory(ctx.partitionId() if ctx else 0)
        for batch in batches:
            _update_from_batch(sk, batch, None, seeds, numeric, keyed)
        yield pa.RecordBatch.from_pydict({"state": pa.array([sk.to_bytes()], pa.binary())})

    states = proj.mapInArrow(fn, _STATE_SCHEMA)
    return fold_states(states, type(sk0), factory, tree_depth)


def sketch_by_group(df: DataFrame, group_col: str, col: str, factory: Callable, *,
                    seeds: tuple[int, ...] | None = None, numeric: bool = False,
                    keyed: bool = False, shuffle_partitions: int | None = None,
                    weight_col: str | None = None) -> DataFrame:
    """Per-group sketches with explicit map-side combine.

    Phase 1 combines each group's rows locally in every scan partition — the
    skew-robust step: the phase-2 shuffle sees at most ``partitions`` partials
    per group no matter how skewed the group is (this is what salting
    achieves for raw-row shuffles, obtained structurally here).  For an
    engine sketch (HLL, CMS) phase 1 is the partial ``groupBy(group, cell)``
    aggregate and phase 2 its final aggregate, after which one
    ``applyInArrow`` per group fills the state from the group's ≤ m (or d·w)
    cells; for any other sketch phase 1 builds one sketch per
    (scan-partition × group) and phase 2 merges the blobs per group.

    Returns DataFrame ``(group string, state binary)``.
    """
    # null groups are dropped like null values (SQL GROUP BY would keep a
    # NULL group; sketches over "no group" are rarely meaningful and a null
    # dictionary index would otherwise corrupt the in-kernel grouping)
    proj = _drop_nulls(_drop_nulls(df, col), group_col)
    if weight_col is not None:
        if not numeric:
            raise ValueError("weight_col is only meaningful for numeric sketches")
        proj = proj.filter(F.col(weight_col).isNotNull()
                           & (F.col(weight_col).cast("double") > 0))
    proj = proj.select(
        F.col(group_col).cast("string").alias("_g"),
        *_proj_cols(col, seeds, numeric, keyed, weight_col))
    sk0 = factory(0)
    cls = type(sk0)
    if _has_engine(sk0, seeds, keyed):
        # no type hints: under postponed annotations applyInArrow cannot
        # resolve them, and without hints it takes (key, pa.Table) -> pa.Table
        def assemble(key, cells):
            return pa.table({"group": pa.array([key[0].as_py()], pa.string()),
                             "state": pa.array([_fill(factory(0), cells).to_bytes()],
                                               pa.binary())})

        return (_engine_cells(proj, sk0, len(seeds), ["_g"])
                .groupBy("_g").applyInArrow(assemble, _GROUP_STATE_SCHEMA))

    def partial(batches):
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        local: dict[str, object] = {}
        for batch in batches:
            enc = pc.dictionary_encode(batch.column("_g"))
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            groups = enc.dictionary.to_pylist()
            order = np.argsort(codes, kind="stable")
            sc = codes[order]
            starts = np.concatenate(([0], np.flatnonzero(np.diff(sc)) + 1, [len(sc)]))
            for si in range(len(starts) - 1):
                rows = order[starts[si] : starts[si + 1]]
                g = groups[sc[starts[si]]]
                sk = local.get(g)
                if sk is None:
                    sk = factory(pid)
                    local[g] = sk
                _update_from_batch(sk, batch, rows, seeds, numeric, keyed)
        if local:
            yield pa.RecordBatch.from_pydict({
                "group": pa.array(list(local.keys()), pa.string()),
                "state": pa.array([sk.to_bytes() for sk in local.values()], pa.binary()),
            })

    partials = proj.mapInArrow(partial, _GROUP_STATE_SCHEMA)

    def merge_group(pdf):
        import pandas as pd
        acc = None
        for blob in pdf["state"]:
            nxt = cls.from_bytes(bytes(blob))
            acc = nxt if acc is None else acc.merge(nxt)
        return pd.DataFrame({"group": [pdf["group"].iloc[0]], "state": [acc.to_bytes()]})

    grouped = partials.groupBy("group")
    return grouped.applyInPandas(merge_group, _GROUP_STATE_SCHEMA)


_CUBE_SEP = "\x1f"  # ASCII unit separator — dims must not contain it (doc'd)


def sketch_cube(df: DataFrame, dims: list[str], col: str, factory: Callable, *,
                seeds: tuple[int, ...] | None = None, numeric: bool = False,
                keyed: bool = False, weight_col: str | None = None) -> DataFrame:
    """One sketch state per combination of ``dims`` — the materialized
    sketch-table pattern.  Persist the result (``sources.write_table``) and
    later answer *any* slice/range query by merging the handful of matching
    states (:func:`rollup_states`) instead of rescanning the fact table:
    at 100 TB, a "distinct users for event_type X over days [a, b]" becomes
    a read of ≤ ``b−a+1`` kilobyte-sized blobs, not a fact scan.

    The merge laws make this EXACT with respect to a direct build: HLL
    (register max), CMS (counter add), Theta (bottom-k union) and AMS
    (counter add) states rolled up from the cube are **byte-identical** to
    a sketch built directly over the equivalent fact slice (verified in
    tests); t-digest/KLL rollups are within the sketch's published bound
    (compression is order-dependent, estimates are not materially so).

    Same skew-robust shape as :func:`sketch_by_group` (the cube cell is the
    group): map-side partials per scan partition, and only partials
    shuffle.  For HLL/CMS the partial is the engine's aggregate of (cube
    cell, sketch cell) and each cube cell's state is filled from its
    aggregated sketch cells; for the other sketches it is one blob per
    (scan partition, cube cell), merged per cube cell.
    Dim values are cast to string in the output; rows with a NULL in any
    dim are dropped (GROUP BY over sketches, same rule as the group path).
    Dim values must not contain U+001F (the internal separator).

    Returns DataFrame ``(*dims string..., state binary)``.
    """
    if not dims:
        raise ValueError("sketch_cube needs at least one dim; use build_sketch for a global sketch")
    proj = df
    for d in dims:
        proj = proj.filter(F.col(d).isNotNull())
    combo = F.concat_ws(_CUBE_SEP, *[F.col(d).cast("string") for d in dims])
    states = sketch_by_group(proj.withColumn("_cube_key", combo), "_cube_key", col,
                             factory, seeds=seeds, numeric=numeric, keyed=keyed,
                             weight_col=weight_col)
    parts = F.split(F.col("group"), _CUBE_SEP, len(dims))
    return states.select(*[parts[i].alias(d) for i, d in enumerate(dims)],
                         F.col("state"))


def rollup_states(states: DataFrame, keep: list[str], cls, factory: Callable,
                  state_col: str = "state") -> DataFrame | object:
    """Collapse a sketch-state table along dimensions by merging blobs.

    ``keep`` names the dimension columns to retain (their types are
    preserved); every other column is rolled away.  ``keep=[]`` folds the
    whole table into ONE sketch object (driver-side, via
    :func:`fold_states`).  Filter the state table first to answer range
    queries::

        day_states = sketch_cube(events, ["event_type", "day"], "user_id", hll)
        week = rollup_states(day_states.filter(F.col("day").between(a, b)),
                             ["event_type"], HLL, hll)

    The shuffle moves only blobs — one row per retained cell per input cell.
    """
    if not keep:
        return fold_states(states.select(state_col), cls, factory)

    from pyspark.sql.types import BinaryType, StructField, StructType

    out_schema = StructType([states.schema[c] for c in keep]
                            + [StructField(state_col, BinaryType())])

    def merge_cell(pdf):
        import pandas as pd
        acc = None
        for blob in pdf[state_col]:
            nxt = cls.from_bytes(bytes(blob))
            acc = nxt if acc is None else acc.merge(nxt)
        row = {c: [pdf[c].iloc[0]] for c in keep}
        row[state_col] = [acc.to_bytes()]
        return pd.DataFrame(row)

    return states.groupBy(*keep).applyInPandas(merge_cell, out_schema)


def estimate_col(cls, method: str = "estimate", args: tuple = (), dtype: str = "double"):
    """A pandas UDF turning a state-blob column into an estimate column."""
    @F.pandas_udf(dtype)
    def est(blobs):
        import pandas as pd
        out = [getattr(cls.from_bytes(bytes(b)), method)(*args) if b is not None else None
               for b in blobs]
        return pd.Series(out)
    return est


def register_sql_functions(spark, prefix: str = "sk_") -> list[str]:
    """Expose blob→estimate decoders to plain SQL, so persisted sketch-state
    tables ("the filter is a table") are queryable without Python::

        register_sql_functions(spark)
        spark.sql("SELECT group, sk_hll_est(state) FROM lang_sketches")
        spark.sql("SELECT sk_tdigest_quantile(state, 0.99) FROM latency_sk")

    Registers (``prefix`` default ``sk_``): ``hll_est``, ``theta_est``,
    ``ams_f2``, ``cms_total``, ``fd_error_bound`` (blob → double) and
    ``tdigest_quantile``, ``kll_quantile`` (blob, q → double).  Returns the
    registered names.  All are Arrow-batched pandas UDFs over the byte
    blobs — the states stay tiny, so decode cost is per-group, not per-row.
    """
    import pandas as pd

    from sparksketch.ams import AMS
    from sparksketch.cms import CMS
    from sparksketch.fd import FrequentDirections
    from sparksketch.hll import HLL
    from sparksketch.kll import KLL
    from sparksketch.tdigest import TDigest
    from sparksketch.theta import Theta

    def _cms_total_fn(blobs):
        # attribute, not a method — the one decoder estimate_col can't build
        return pd.Series([float(CMS.from_bytes(bytes(b)).total)
                          if b is not None else None for b in blobs])
    _cms_total_fn.__annotations__ = {"blobs": pd.Series, "return": pd.Series}
    _cms_total = F.pandas_udf(_cms_total_fn, "double")

    def _dec_q(cls):
        def f(blobs, qs):
            # a SQL NULL double arrives as NaN in the float64 Series —
            # `q == q` rejects it (NaN != NaN), returning NULL like SQL
            return pd.Series([float(cls.from_bytes(bytes(b)).quantile(float(q)))
                              if b is not None and q is not None and q == q
                              else None for b, q in zip(blobs, qs)])
        f.__annotations__ = {"blobs": pd.Series, "qs": pd.Series,
                             "return": pd.Series}
        return F.pandas_udf(f, "double")

    fns = {
        "hll_est": estimate_col(HLL),
        "theta_est": estimate_col(Theta),
        "ams_f2": estimate_col(AMS, "f2_estimate"),
        "cms_total": _cms_total,
        "fd_error_bound": estimate_col(FrequentDirections, "cov_error_bound"),
        "tdigest_quantile": _dec_q(TDigest),
        "kll_quantile": _dec_q(KLL),
    }
    names = []
    for name, udf in fns.items():
        spark.udf.register(prefix + name, udf)
        names.append(prefix + name)
    return names


def sketch_agg_udf(factory: Callable, *, seeds: tuple[int, ...] | None = None,
                   numeric: bool = False, method: str = "estimate", args: tuple = ()):
    """GROUPED_AGG pandas UDAF convenience: use directly in ``groupBy().agg()``.

        df.groupBy("lang").agg(sketch_agg_udf(lambda pid: HLL(12),
                               seeds=(HLL_SEED,))(F.col("url")).alias("est"))

    Hash sketches hash **JVM-side**: the returned callable rewrites its key
    column into the seeded ``xxhash64`` columns (whole-stage codegen) and the
    UDAF consumes only int64 hashes — no Python hashing anywhere (same
    contract as the rest of the library; NULL keys are dropped like SQL
    aggregates drop them).

    Note the scale tradeoff: a GROUPED_AGG UDF shuffles *raw group rows* to
    the aggregating task (no map-side combine), so prefer
    :func:`sketch_by_group` — which shuffles only partial sketch blobs —
    for big or skewed groups.  This variant exists for expression-style
    ergonomics on modest data."""
    import pandas as pd

    if numeric:
        def _agg(values):
            sk = factory(0)
            sk.update_values(values.astype("float64").to_numpy(na_value=np.nan))
            return float(getattr(sk, method)(*args))

        # `from __future__ import annotations` stringifies hints, which the
        # pandas_udf eval-type inference can't resolve — attach real objects
        _agg.__annotations__ = {"values": pd.Series, "return": float}
        return F.pandas_udf(_agg, "double")

    if not seeds:
        raise ValueError("sketch_agg_udf needs seeds= (hash sketch) or numeric=True")

    # the hash columns are never-null int64 (Spark hash exprs skip NULL
    # inputs rather than return NULL) — a nullable int64 would surface as
    # float64 in pandas and round 64-bit hashes above 2^53; a separate
    # boolean column carries key validity instead
    def _agg_hashes(*series):
        sk = factory(0)
        valid = series[-1].to_numpy(dtype=bool, na_value=False)
        hs = [to_u64(h.to_numpy(dtype=np.int64)[valid]) for h in series[:-1]]
        sk.update_hashes(*hs)
        return float(getattr(sk, method)(*args))

    # pandas_udf infers the UDF arity from the signature, not the
    # annotations — rebind to an exact-arity wrapper
    params = ", ".join(f"h{i}" for i in range(len(seeds) + 1))
    ns: dict = {"_impl": _agg_hashes}
    exec(f"def _agg({params}):\n    return _impl({params})", ns)
    agg_fn = ns["_agg"]
    agg_fn.__annotations__ = {f"h{i}": pd.Series for i in range(len(seeds) + 1)}
    agg_fn.__annotations__["return"] = float
    udaf = F.pandas_udf(agg_fn, "double")

    def apply(col) -> F.Column:
        key = (F.col(col) if isinstance(col, str) else col).cast("string")
        return udaf(*[hash_col(key, s) for s in seeds], key.isNotNull())

    return apply
