"""Product quantization (PQ) — compressed embeddings for ANN at scale.

Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011): split each ``dim``-vector into ``m_sub`` contiguous
subvectors, learn an independent k-means codebook per subspace, and store
each vector as ``m_sub`` uint8 code indices — 64-dim float32 → 8 bytes is
a 32× compression, which is what makes a 100 TB embedding column scannable
(3 TB of codes) and cacheable.  Queries score compressed vectors WITHOUT
decompression via the asymmetric distance computation (ADC): a per-query
``(m_sub × k)`` lookup table of exact subspace distances, then each code's
distance is ``m_sub`` table lookups — no FLOPs per candidate.

Spark-first shape (the same partial/final discipline as
``clustering.kmeans_fit``):

- **pq_train** — Lloyd iterations for ALL subspaces jointly in ONE
  ``mapInArrow`` pass per iteration: each partition emits one
  ``(m_sub × k × dsub)`` float64 sufficient-statistics partial (zero
  shuffle, no growth with n); the driver folds partials in sorted-partition
  order (deterministic for a fixed input partitioning) and updates every
  codebook.  L2 Lloyd: assignment by min squared distance, update = mean —
  the per-iteration total quantization error is monotone non-increasing.
- **pq_encode** — one scan emitting an ``m_sub``-byte ``binary`` code per
  row (codebooks broadcast in the closure).
- **pq_topk** — ADC top-k: per-partition table-lookup scoring + local
  top-k, then a driver merge of ``partitions × k`` candidates — the same
  TakeOrdered-style plan as :func:`sparksketch.similarity.cosine_topk`.

Composes with the rest of the ANN family: IVF lists for pruning which
codes to scan (IVF-ADC), exact rerank of the ADC top-k' against the raw
vectors for recall (the standard two-stage pipeline).

**IVFPQ** (Jégou et al. 2011 §V, the FAISS ``IndexIVFPQ`` design) is the
100 TB query path: a coarse L2 quantizer (:func:`coarse_centroids_l2`)
splits the corpus into ``n_lists`` inverted lists, PQ encodes the
RESIDUAL ``x − c(x)`` (``pq_train``/``pq_encode`` with ``coarse=``  — one
extra GEMM in the same Arrow pass, no extra scan), and a query ADC-scans
only the ``n_probe`` nearest lists with a per-list lookup table built
from the shifted query ``q − c_l`` (:func:`ivfpq_topk`).  Persisted
``partitionBy(ivf_list)``, the probe is partition-pruned at the source —
the scan does ``n_probe/n_lists`` of the I/O and the codes are 32×
smaller than the vectors, so the two factors multiply.  On a corpus
exactly representable as ``coarse + atoms`` the ADC distance telescopes
to the exact squared L2 (``||(q−c) − (x−c)||² == ||q−x||²``) — the
identity the pytest suite pins.

Streaming ingest needs no extra operator: ``pq_encode`` is a stateless
Arrow transform, so it applies unchanged to a ``readStream`` frame, and
``writeStream.partitionBy("ivf_list")`` maintains the same pruned code
table the batch probes scan (pytest: 3-micro-batch file stream ==
batch encode, row-for-row).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksketch.similarity import _mat_of, infer_dim


@dataclass(frozen=True)
class PQModel:
    codebooks: np.ndarray   # (m_sub, k, dsub) float32
    costs: list[float]      # total squared quantization error per iteration
    n: int                  # vectors folded

    @property
    def m_sub(self) -> int:
        return int(self.codebooks.shape[0])

    @property
    def k(self) -> int:
        return int(self.codebooks.shape[1])

    @property
    def dim(self) -> int:
        return int(self.codebooks.shape[0] * self.codebooks.shape[2])

    def monotone(self, rel_tol: float = 1e-6) -> bool:
        return all(b <= a + rel_tol * max(1.0, abs(a))
                   for a, b in zip(self.costs, self.costs[1:]))

    def decode(self, codes: np.ndarray) -> np.ndarray:
        """(n, m_sub) uint8 codes → (n, dim) float32 reconstruction."""
        parts = [self.codebooks[j, codes[:, j]] for j in range(self.m_sub)]
        return np.concatenate(parts, axis=1)


def _assign_subspaces(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, dim) → (n, m_sub) argmin-squared-distance code indices.
    argmin ||x - c||² == argmax (x·c − ||c||²/2), one GEMM per subspace."""
    m_sub, k, dsub = books.shape
    n = mat.shape[0]
    codes = np.empty((n, m_sub), dtype=np.uint8)
    for j in range(m_sub):
        X = mat[:, j * dsub : (j + 1) * dsub]
        C = books[j]
        scores = X @ C.T - 0.5 * np.einsum("ij,ij->i", C, C, dtype=np.float32)
        codes[:, j] = np.argmax(scores, axis=1).astype(np.uint8)
    return codes


def _assign_l2(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(n, dim) → int32 nearest-centroid ids under squared L2 (one GEMM;
    same argmax identity as :func:`_assign_subspaces`)."""
    scores = mat @ cents.T - 0.5 * np.einsum(
        "ij,ij->i", cents, cents, dtype=np.float32)
    return np.argmax(scores, axis=1).astype(np.int32)


def _sample_matrix(df: DataFrame, vec_col: str, dim: int, n_take: int,
                   seed: int, salt: int) -> np.ndarray:
    """Seeded Bernoulli sample collected driver-side as (n_take, dim)
    float32 — never ``limit()`` (LocalLimit reads only the first
    partitions, biasing toward one corner of a sorted/time-clustered
    table); oversample 1.25× then seeded downselect."""
    from sparksketch.session import estimated_row_count
    proj = (df.select(F.col(vec_col).alias("_v"))
            .filter(F.col("_v").isNotNull() & (F.size("_v") == dim)))
    n_est = estimated_row_count(df) or df.count()
    vecs = proj
    if n_est > n_take:
        frac = min(1.0, (n_take * 1.25 + 64.0) / n_est)
        vecs = vecs.sample(fraction=frac, seed=seed)
    sample = np.array([r[0] for r in vecs.collect()], dtype=np.float32)
    if sample.shape[0] > n_take:
        pick = np.random.default_rng((salt, seed)).choice(
            sample.shape[0], size=n_take, replace=False)
        sample = sample[np.sort(pick)]
    return sample


def coarse_centroids_l2(df: DataFrame, vec_col: str, n_lists: int = 16,
                        dim: int | None = None, sample: int = 4096,
                        iters: int = 10, seed: int = 11) -> np.ndarray:
    """IVFPQ's coarse quantizer: ``(n_lists, dim)`` float32 L2 k-means
    centroids from a driver-side sample (maximin init + Lloyd, UNNORMALIZED
    — PQ's metric is squared L2, unlike :func:`similarity.ivf_centroids`'s
    cosine).  The expensive part — assigning every vector — stays
    distributed inside the encode pass."""
    dim = dim or infer_dim(df, vec_col)
    mat = _sample_matrix(df, vec_col, dim, sample, seed, salt=0x1F5)
    X = mat.astype(np.float64)
    k = min(n_lists, X.shape[0])
    chosen = [0]
    d = np.sum((X - X[0]) ** 2, axis=1)
    for _ in range(1, k):
        nxt = int(np.argmax(d))
        chosen.append(nxt)
        d = np.minimum(d, np.sum((X - X[nxt]) ** 2, axis=1))
    cents = X[chosen].copy()
    for _ in range(iters):
        assign = _assign_l2(mat, cents.astype(np.float32))
        for c in range(cents.shape[0]):
            members = X[assign == c]
            if members.shape[0]:
                cents[c] = members.mean(axis=0)
    return cents.astype(np.float32)


def _maximin_subspace_init(sample: np.ndarray, m_sub: int, k: int) -> np.ndarray:
    """Per-subspace farthest-point init from a driver-side sample — the
    same greedy as similarity.ivf_centroids, under squared L2."""
    n, dim = sample.shape
    dsub = dim // m_sub
    books = np.empty((m_sub, k, dsub), dtype=np.float32)
    for j in range(m_sub):
        X = sample[:, j * dsub : (j + 1) * dsub].astype(np.float64)
        chosen = [0]
        d = np.sum((X - X[0]) ** 2, axis=1)
        for _ in range(1, min(k, n)):
            nxt = int(np.argmax(d))
            chosen.append(nxt)
            d = np.minimum(d, np.sum((X - X[nxt]) ** 2, axis=1))
        B = X[chosen]
        if B.shape[0] < k:  # fewer sample points than centroids: pad by cycling
            reps = -(-k // B.shape[0])
            B = np.tile(B, (reps, 1))[:k]
        books[j] = B.astype(np.float32)
    return books


def pq_train(df: DataFrame, vec_col: str, m_sub: int = 8, k: int = 256,
             iters: int = 8, seed: int = 11, dim: int | None = None,
             init_sample: int = 4096, cache: bool = True,
             coarse: np.ndarray | None = None) -> PQModel:
    """Train all ``m_sub`` subspace codebooks jointly (module docstring).
    ``k`` ≤ 256 (codes are uint8); ``dim`` must divide evenly by ``m_sub``.
    With ``coarse=`` (an ``(n_lists, dim)`` L2 centroid matrix, see
    :func:`coarse_centroids_l2`) the codebooks are trained on the IVFPQ
    RESIDUALS ``x − c(x)`` — the coarse assignment is one extra GEMM inside
    the same per-iteration Arrow pass, never a materialized column."""
    dim = dim or infer_dim(df, vec_col)
    if dim % m_sub:
        raise ValueError(f"dim={dim} not divisible by m_sub={m_sub}")
    if k > 256:
        raise ValueError("k > 256 does not fit a uint8 code")
    if coarse is not None and coarse.shape[1] != dim:
        raise ValueError(f"coarse dim {coarse.shape[1]} != {dim}")
    dsub = dim // m_sub

    # seeded Bernoulli sample for init (same rationale as ivf_centroids:
    # never limit(), which would bias toward the first partitions)
    proj = (df.select(F.col(vec_col).alias("_v"))
            .filter(F.col("_v").isNotNull() & (F.size("_v") == dim)))
    # persist BEFORE drawing the init sample: _sample_matrix's internal
    # projection canonicalizes to the same plan, so its collect both draws
    # the (unchanged — cache preserves row order) seeded sample AND
    # materializes the cache, and iteration 1 reads the cached rows
    # instead of re-scanning the source (measured 1.1 s → 0.4 s on the
    # 4M-vector bench corpus's first iteration)
    cached = bool(cache and iters > 1)
    if cached:
        from pyspark import StorageLevel
        proj = proj.persist(StorageLevel.MEMORY_AND_DISK)
    sample = _sample_matrix(df, vec_col, dim, init_sample, seed, salt=0x709)
    if coarse is not None:
        C = coarse.astype(np.float32)
        sample = sample - C[_assign_l2(sample, C)]
    books = _maximin_subspace_init(sample, m_sub, k)

    try:
        costs: list[float] = []
        total_n = 0
        for _ in range(iters):
            rows = _pq_partials_frame(proj, books, dsub, coarse).collect()
            rows.sort(key=lambda r: r.part)
            S = np.zeros((m_sub, k, dsub), dtype=np.float64)
            counts = np.zeros((m_sub, k), dtype=np.int64)
            cost = 0.0
            total_n = 0
            for r in rows:
                S += np.frombuffer(r.sums, dtype=np.float64).reshape(m_sub, k, dsub)
                counts += np.frombuffer(r.counts, dtype=np.int64).reshape(m_sub, k)
                cost += r.cost
                total_n += r.n
            costs.append(cost)
            new = books.astype(np.float64).copy()
            nz = counts > 0
            new[nz] = S[nz] / counts[nz][:, None]
            books = new.astype(np.float32)
    finally:
        if cached:
            proj.unpersist()
    return PQModel(codebooks=books, costs=costs, n=total_n)


def _pq_partials_frame(proj: DataFrame, books: np.ndarray, dsub: int,
                       coarse: np.ndarray | None = None) -> DataFrame:
    """ONE training iteration's sufficient statistics for every subspace:
    input -> MapInArrow, one row per partition, no Exchange (plan pytest).
    With ``coarse`` the statistics are over residuals (IVFPQ training)."""
    m_sub, k, _ = books.shape
    B = books.astype(np.float32)
    C = None if coarse is None else coarse.astype(np.float32)
    dim = m_sub * dsub

    def fn(batches):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        S = np.zeros((m_sub, k, dsub), dtype=np.float64)
        counts = np.zeros((m_sub, k), dtype=np.int64)
        cost = 0.0
        n = 0
        for batch in batches:
            mat = _mat_of(batch.column("_v"), dim)
            if mat.shape[0] == 0:
                continue
            n += mat.shape[0]
            if C is not None:
                mat = mat - C[_assign_l2(mat, C)]
            codes = _assign_subspaces(mat, B)
            for j in range(m_sub):
                X = mat[:, j * dsub : (j + 1) * dsub].astype(np.float64)
                a = codes[:, j].astype(np.int64)
                for t in range(dsub):
                    S[j, :, t] += np.bincount(a, weights=X[:, t], minlength=k)
                counts[j] += np.bincount(a, minlength=k)
                cost += float(np.sum((X - B[j, a].astype(np.float64)) ** 2))
        if n:
            yield pa.RecordBatch.from_arrays(
                [pa.array([pid], pa.int32()),
                 pa.array([S.tobytes()], pa.binary()),
                 pa.array([counts.tobytes()], pa.binary()),
                 pa.array([cost], pa.float64()),
                 pa.array([n], pa.int64())],
                names=["part", "sums", "counts", "cost", "n"])

    return proj.mapInArrow(
        fn, "part int, sums binary, counts binary, cost double, n long")


def pq_encode(df: DataFrame, vec_col: str, model: PQModel,
              out: str = "pq_code",
              keep: list[str] | None = None,
              coarse: np.ndarray | None = None,
              out_list: str = "ivf_list") -> DataFrame:
    """One scan emitting the ``m_sub``-byte code per row (same null/ragged
    guard as the trainer).  ``keep`` limits the passthrough columns — when
    writing a code TABLE, ``keep=[id_col]`` avoids shipping the raw vector
    back Python→JVM just to drop it (halves the encode's Arrow traffic).
    With ``coarse=`` this is the IVFPQ encode: the same pass also emits the
    ``out_list`` inverted-list id and the code quantizes the RESIDUAL —
    write the result ``partitionBy(out_list)`` so probes partition-prune."""
    dim = model.dim
    m_sub = model.m_sub
    B = model.codebooks
    C = None if coarse is None else coarse.astype(np.float32)
    passthrough = keep if keep is not None else [
        f.name for f in df.schema.fields]

    def fn(batches):
        for batch in batches:
            mat = _mat_of(batch.column(vec_col), dim)
            cols, names = list(batch.columns), list(batch.schema.names)
            kept = [cols[names.index(c)] for c in passthrough]
            if C is not None:
                assign = _assign_l2(mat, C)
                mat = mat - C[assign]
                kept.append(pa.array(assign, pa.int32()))
            codes = _assign_subspaces(mat, B)
            # binary array straight from the (n, m_sub) uint8 buffer — one
            # offsets array over the flat bytes instead of n per-row Python
            # slices (4M bytes objects per encode measured as the kernel's
            # dominant cost; guide §4.2's re-slice-don't-copy property)
            n = codes.shape[0]
            offs = np.arange(0, (n + 1) * m_sub, m_sub, dtype=np.int32)
            kept.append(pa.Array.from_buffers(
                pa.binary(), n,
                [None, pa.py_buffer(offs.tobytes()),
                 pa.py_buffer(np.ascontiguousarray(codes).tobytes())]))
            yield pa.RecordBatch.from_arrays(
                kept, names=[*passthrough,
                             *([out_list] if C is not None else []), out])

    guarded = df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
    by_name = {f.name: f for f in df.schema.fields}
    schema = ", ".join(f"`{c}` {by_name[c].dataType.simpleString()}"
                       for c in passthrough)
    if C is not None:
        schema = f"{schema}, `{out_list}` int"
    return guarded.mapInArrow(fn, f"{schema}, `{out}` binary")


def _codes_matrix(code_arr, m_sub: int) -> np.ndarray:
    """Arrow binary column of ``m_sub``-byte PQ codes → (n, m_sub) uint8
    matrix over the flat value buffer.  Offsets are validated explicitly:
    ``reshape`` alone only raises when the TOTAL byte count is indivisible
    by ``m_sub`` — a 7-byte and a 9-byte code would pass silently and
    misalign every subsequent row's distances."""
    if isinstance(code_arr, pa.ChunkedArray):
        code_arr = code_arr.combine_chunks()
    if not pa.types.is_binary(code_arr.type):  # large_binary has int64 offsets
        raise ValueError(f"pq codes must be an Arrow binary column, got {code_arr.type}")
    buf = np.frombuffer(code_arr.buffers()[2], dtype=np.uint8)
    offs = np.frombuffer(code_arr.buffers()[1], dtype=np.int32)[
        code_arr.offset : code_arr.offset + len(code_arr) + 1]
    if offs.size > 1 and not np.all(np.diff(offs) == m_sub):
        raise ValueError(
            f"ragged pq codes: every code must be exactly {m_sub} bytes")
    return buf[offs[0]:offs[-1]].reshape(-1, m_sub)


def adc_table(model: PQModel, query: np.ndarray) -> np.ndarray:
    """(m_sub, k) float32 lookup table: exact squared L2 distance of each
    query subvector to every centroid — ADC's one-off per-query cost."""
    q = np.asarray(query, dtype=np.float32)
    m_sub, k, dsub = model.codebooks.shape
    table = np.empty((m_sub, k), dtype=np.float32)
    for j in range(m_sub):
        diff = model.codebooks[j] - q[j * dsub : (j + 1) * dsub]
        table[j] = np.einsum("ij,ij->i", diff, diff)
    return table


def pq_topk(df_encoded: DataFrame, id_col: str, model: PQModel,
            query: np.ndarray, k: int = 10,
            code_col: str = "pq_code") -> list[tuple[int, float]]:
    """ADC top-k nearest (smallest approximate squared L2): per-partition
    table-lookup scoring + local top-k, driver merge of partitions × k —
    no shuffle, no per-candidate FLOPs, codes never decompressed.

    The returned list is ordered canonically by ``(dist, id)``; when
    EQUAL distances tie at the k boundary (identical codes), which of the
    tied ids survives follows the partition layout — deterministic for a
    fixed input partitioning, same bar as every driver-merge operator
    here (the rerank stage re-ranks exactly, so two-stage results don't
    inherit the caveat)."""
    table = adc_table(model, query)
    m_sub = model.m_sub

    def fn(batches):
        best_ids, best_d = [], []
        for batch in batches:
            ids = batch.column("_id").to_numpy(zero_copy_only=False)
            codes = _codes_matrix(batch.column("_c"), m_sub)
            # ADC: one table lookup per subspace, summed
            d = table[np.arange(m_sub)[None, :], codes].sum(axis=1)
            if d.shape[0] > k:
                part = np.argpartition(d, k)[:k]
            else:
                part = np.arange(d.shape[0])
            best_ids.append(ids[part])
            best_d.append(d[part])
        if best_ids:
            ids = np.concatenate(best_ids)
            d = np.concatenate(best_d)
            if ids.shape[0] > k:
                part = np.argpartition(d, k)[:k]
                ids, d = ids[part], d[part]
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(d.astype(np.float64))],
                names=["_id", "dist"])

    proj = df_encoded.select(F.col(id_col).cast("long").alias("_id"),
                             F.col(code_col).alias("_c"))
    local = proj.mapInArrow(fn, "_id long, dist double").collect()
    rows = sorted(((r._id, r.dist) for r in local), key=lambda t: (t[1], t[0]))[:k]
    return [(int(i), float(s)) for i, s in rows]


def ivfpq_topk(df_encoded: DataFrame, id_col: str, model: PQModel,
               coarse: np.ndarray, query: np.ndarray, k: int = 10,
               n_probe: int = 2, code_col: str = "pq_code",
               list_col: str = "ivf_list") -> list[tuple[int, float]]:
    """IVFPQ ADC top-k: scan ONLY the ``n_probe`` inverted lists nearest
    the query (an `isin` filter — a PartitionFilter when the code table is
    written ``partitionBy(list_col)``), scoring each list's residual codes
    against its own shifted-query table ``adc(q − c_l)``.  Same
    per-partition top-k + driver merge shape as :func:`pq_topk`."""
    q = np.asarray(query, dtype=np.float32)
    C = coarse.astype(np.float32)
    d_coarse = np.sum((C.astype(np.float64) - q.astype(np.float64)) ** 2, axis=1)
    probes = np.argsort(d_coarse, kind="stable")[:n_probe]
    # (n_probe, m_sub, k) stacked per-list tables + list-id -> row lut
    T = np.stack([adc_table(model, q - C[l]) for l in probes])
    lut = np.full(C.shape[0], -1, dtype=np.int64)
    lut[probes] = np.arange(len(probes))
    m_sub = model.m_sub
    sub_ix = np.arange(m_sub)[None, :]

    def fn(batches):
        best_ids, best_d = [], []
        for batch in batches:
            ids = batch.column("_id").to_numpy(zero_copy_only=False)
            lists = batch.column("_l").to_numpy(zero_copy_only=False)
            codes = _codes_matrix(batch.column("_c"), m_sub)
            rows = lut[lists.astype(np.int64)]
            d = T[rows[:, None], sub_ix, codes].sum(axis=1)
            if d.shape[0] > k:
                part = np.argpartition(d, k)[:k]
            else:
                part = np.arange(d.shape[0])
            best_ids.append(ids[part])
            best_d.append(d[part])
        if best_ids:
            ids = np.concatenate(best_ids)
            d = np.concatenate(best_d)
            if ids.shape[0] > k:
                part = np.argpartition(d, k)[:k]
                ids, d = ids[part], d[part]
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(d.astype(np.float64))],
                names=["_id", "dist"])

    proj = (df_encoded
            .filter(F.col(list_col).isin([int(x) for x in probes]))
            .select(F.col(id_col).cast("long").alias("_id"),
                    F.col(list_col).alias("_l"),
                    F.col(code_col).alias("_c")))
    local = proj.mapInArrow(fn, "_id long, dist double").collect()
    rows = sorted(((r._id, r.dist) for r in local), key=lambda t: (t[1], t[0]))[:k]
    return [(int(i), float(s)) for i, s in rows]


def ivfpq_topk_rerank(df_encoded: DataFrame, vec_col: str, id_col: str,
                      model: PQModel, coarse: np.ndarray, query: np.ndarray,
                      k: int = 10, n_probe: int = 2, shortlist: int = 100,
                      code_col: str = "pq_code",
                      list_col: str = "ivf_list") -> DataFrame:
    """Two-stage IVFPQ query: pruned ADC shortlist (:func:`ivfpq_topk`) +
    exact rerank of only the shortlist rows — the raw-vector reads are
    ``shortlist/n`` AND the code scan is ``n_probe/n_lists``."""
    ids = [i for i, _ in ivfpq_topk(df_encoded, id_col, model, coarse, query,
                                    k=shortlist, n_probe=n_probe,
                                    code_col=code_col, list_col=list_col)]
    return _exact_rerank(df_encoded, vec_col, id_col, query, ids, k)


def ivfpq_knn_join(df_encoded: DataFrame, id_col: str, model: PQModel,
                   coarse: np.ndarray, queries: DataFrame,
                   q_id_col: str = "vec_id", q_vec_col: str = "embedding",
                   k: int = 10, n_probe: int = 2,
                   max_queries: int = 100_000, q_block: int = 512,
                   n_block: int = 8192, code_col: str = "pq_code",
                   list_col: str = "ivf_list") -> DataFrame:
    """Batch compressed ANN **join**: every query's ADC top-k over the code
    table — the IVFPQ counterpart of :func:`similarity.knn_join`, and the
    scale path past its broadcast gate: the corpus side is never collected,
    never decompressed, and each inverted list is scanned ONCE for ALL the
    queries probing it (an ``isin`` over the union of probed lists — a
    PartitionFilter on a ``partitionBy(ivf_list)`` table).

    Per task: rows are grouped by list; for each (list, query-block) the
    shifted-query ADC tables are built vectorized (``bq × k × dim`` FLOPs,
    independent of list length) and codes are scored by ``m_sub`` gathers
    in ``n_block`` row slabs, maintaining a per-query running top-k with
    the deterministic ``(dist, id)`` lexicographic tie-break.  Only
    ``partitions × n_q × k`` candidate rows shuffle; the global winner set
    is one window pass.  Returns ``(q_id, nb_id, dist)`` — squared L2 in
    float64, ADC-approximate; feed the ids to an exact rerank join for the
    two-stage pipeline."""
    qrows = (queries.select(F.col(q_id_col).cast("long"),
                            F.col(q_vec_col))
             .filter(F.col(q_vec_col).isNotNull() &
                     (F.size(q_vec_col) == model.dim))
             .limit(max_queries + 1).collect())
    if len(qrows) > max_queries:
        raise ValueError(
            f"ivfpq_knn_join broadcasts the query set; got >{max_queries} "
            "queries — split the query table into blocks this size")
    spark = df_encoded.sparkSession
    if not qrows:
        return spark.createDataFrame([], "q_id long, nb_id long, dist double")
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    if len(set(qids.tolist())) != len(qids):
        raise ValueError("ivfpq_knn_join query ids must be unique")
    qmat = np.array([r[1] for r in qrows], dtype=np.float32)
    C = coarse.astype(np.float32)
    # (nq, n_probe) probed lists per query -> per-list probing-query index
    d2 = (np.sum(qmat.astype(np.float64) ** 2, axis=1)[:, None]
          - 2.0 * qmat.astype(np.float64) @ C.astype(np.float64).T
          + np.sum(C.astype(np.float64) ** 2, axis=1)[None, :])
    probes = np.argsort(d2, kind="stable", axis=1)[:, :n_probe]
    by_list: dict[int, np.ndarray] = {
        int(l): np.flatnonzero((probes == l).any(axis=1))
        for l in np.unique(probes)}
    B = model.codebooks
    m_sub, kcb, dsub = B.shape
    cb_sq = np.array([np.einsum("ij,ij->i", B[j], B[j]) for j in range(m_sub)],
                     dtype=np.float32)                       # (m_sub, kcb)
    bc = spark.sparkContext.broadcast((qids, qmat, by_list))
    kk = k

    def fn(batches):
        ids_b, qm, lists_map = bc.value
        nq = ids_b.shape[0]
        best_d = np.full((nq, kk), np.inf)
        best_id = np.full((nq, kk), np.iinfo(np.int64).max, dtype=np.int64)
        for batch in batches:
            ids = batch.column("_id").to_numpy(zero_copy_only=False)
            lvals = batch.column("_l").to_numpy(zero_copy_only=False)
            codes = _codes_matrix(batch.column("_c"), m_sub)
            for l in np.unique(lvals):
                q_ix = lists_map.get(int(l))
                if q_ix is None or not q_ix.size:
                    continue
                rmask = lvals == l
                rids = ids[rmask]
                rcodes = codes[rmask]
                for q0 in range(0, q_ix.size, q_block):
                    qs = q_ix[q0 : q0 + q_block]
                    qres = qm[qs] - C[int(l)]                 # (bq, dim)
                    T = np.empty((qs.size, m_sub, kcb), dtype=np.float32)
                    for j in range(m_sub):
                        Qs = qres[:, j * dsub : (j + 1) * dsub]
                        T[:, j] = (np.einsum("ij,ij->i", Qs, Qs)[:, None]
                                   - 2.0 * Qs @ B[j].T + cb_sq[j])
                    for r0 in range(0, rids.size, n_block):
                        cs = rcodes[r0 : r0 + n_block]        # (bn, m_sub)
                        # m_sub (bq, bn) gathers accumulated in float64 —
                        # never materializes a (bq, bn·m_sub) intermediate
                        D = np.zeros((qs.size, cs.shape[0]), dtype=np.float64)
                        for j in range(m_sub):
                            D += T[:, j, cs[:, j]]
                        bid = rids[r0 : r0 + n_block]
                        cand_d = np.concatenate([best_d[qs], D], axis=1)
                        cand_id = np.concatenate(
                            [best_id[qs], np.broadcast_to(
                                bid, (qs.size, bid.size))], axis=1)
                        order = np.lexsort((cand_id, cand_d), axis=1)[:, :kk]
                        best_d[qs] = np.take_along_axis(cand_d, order, axis=1)
                        best_id[qs] = np.take_along_axis(cand_id, order, axis=1)
        mask = np.isfinite(best_d).ravel()
        if mask.any():
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(ids_b, kk)[mask]),
                 pa.array(best_id.ravel()[mask]),
                 pa.array(best_d.ravel()[mask])],
                names=["q_id", "nb_id", "dist"])

    probed = sorted(by_list)
    proj = (df_encoded.filter(F.col(list_col).isin(probed))
            .select(F.col(id_col).cast("long").alias("_id"),
                    F.col(list_col).alias("_l"),
                    F.col(code_col).alias("_c")))
    local = proj.mapInArrow(fn, "q_id long, nb_id long, dist double")
    from pyspark.sql import Window as _W
    w = _W.partitionBy("q_id").orderBy("dist", "nb_id")
    return (local.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


def ivfpq_knn_join_rerank(df_encoded: DataFrame, corpus: DataFrame,
                          vec_col: str, id_col: str, model: PQModel,
                          coarse: np.ndarray, queries: DataFrame,
                          q_id_col: str = "vec_id",
                          q_vec_col: str = "embedding",
                          k: int = 10, n_probe: int = 2,
                          shortlist: int = 100, **join_kw) -> DataFrame:
    """Two-stage batch ANN join: the pruned ADC join produces a
    ``shortlist``-size candidate set per query (codes only), then the exact
    squared L2 is computed for just those ``n_q × shortlist`` pairs — a
    declarative join of the candidate ids against the raw-vector table
    (AQE picks the strategy; the corpus side is touched only for shortlist
    rows) + one window top-k.  Returns exact-arithmetic ``(q_id, nb_id,
    dist)`` — recall approaches exact search while the full scans stay on
    the 32×-smaller pruned code table."""
    cand = ivfpq_knn_join(df_encoded, id_col, model, coarse, queries,
                          q_id_col=q_id_col, q_vec_col=q_vec_col,
                          k=shortlist, n_probe=n_probe, **join_kw)
    c_side = corpus.select(F.col(id_col).cast("long").alias("nb_id"),
                           F.col(vec_col).cast("array<double>").alias("_cv"))
    q_side = queries.select(F.col(q_id_col).cast("long").alias("q_id"),
                            F.col(q_vec_col).cast("array<double>").alias("_qv"))
    d = F.aggregate(F.zip_with("_qv", "_cv", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, v: acc + v)
    from pyspark.sql import Window as _W
    w = _W.partitionBy("q_id").orderBy("dist", "nb_id")
    return (cand.select("q_id", "nb_id")
            .join(c_side, "nb_id").join(q_side, "q_id")
            .select("q_id", "nb_id", d.alias("dist"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


def _exact_rerank(df: DataFrame, vec_col: str, id_col: str,
                  query: np.ndarray, ids: list[int], k: int) -> DataFrame:
    """Exact squared-L2 top-k over a candidate-id subset (JVM expressions,
    TakeOrdered plan) — the shared second stage of both rerank pipelines."""
    q = np.asarray(query, dtype=np.float64)
    qarr = F.array(*[F.lit(float(x)) for x in q])
    dist = F.aggregate(
        F.zip_with(F.col(vec_col).cast("array<double>"), qarr,
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)
    return (df.filter(F.col(id_col).isin(ids))
            .select(F.col(id_col), dist.alias("dist"))
            .orderBy("dist", id_col).limit(k))


def pq_topk_rerank(df_encoded: DataFrame, vec_col: str, id_col: str,
                   model: PQModel, query: np.ndarray, k: int = 10,
                   shortlist: int = 100,
                   code_col: str = "pq_code") -> DataFrame:
    """The standard two-stage PQ pipeline: ADC over the compressed codes
    produces a ``shortlist``-size candidate set (the only full scan, codes
    only), then the exact squared distance is computed for just those
    candidates from the raw vectors — recall approaches exact search at a
    ``shortlist/n`` fraction of the raw-vector reads.  Returns the
    ``(id, dist)`` top-k as a DataFrame (exact arithmetic in doubles, JVM
    expressions, TakeOrdered plan)."""
    ids = [i for i, _ in pq_topk(df_encoded, id_col, model, query,
                                 k=shortlist, code_col=code_col)]
    return _exact_rerank(df_encoded, vec_col, id_col, query, ids, k)
