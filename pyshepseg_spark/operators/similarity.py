"""Similarity search over embedding columns.

One path per job:

- :func:`brute_force_topk` — exact cosine top-k;
- :func:`ivf_topk` — the same kernel, with each query scoring only
  the corpus rows whose nearest coarse cell (a k-means quantizer from
  :func:`train_ivf_centroids`, the engine's deterministic Lloyd
  kernel) is among the query's ``nprobe`` nearest cells;
- :func:`cosine_all_pairs_ids` — exact all-pairs near-dup ids, scored
  one pair of bounded id blocks per row, so nothing is collected.

Both top-k operators run one per-task kernel and one rank window
(:func:`_topk`). Every cosine comes from the numpy fold twins below;
every threshold decision comes from :func:`_fold_decide`, which
``dedup._embedding_pairs`` shares.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..kernels.kmeans import lloyd_kmeans

# The query side of a top-k call is collected to the driver and
# shipped to every task; a larger query set is split across calls.
MAX_QUERIES = 4096

# --- numpy twins of Spark's higher-order-function cosine ----------
#
# The Spark form of a cosine over two array columns is
#   dot(a, b) = aggregate(zip_with(a, b, (x, y) -> x * y), 0D,
#                         (acc, v) -> acc + v)
#   norm(a)   = sqrt(aggregate(transform(a, x -> x * x), 0D,
#                              (acc, v) -> acc + v))
# and Catalyst runs those lambdas INTERPRETED (no whole-stage
# codegen), ~3 lambda evaluations per element per pair. The kernels
# below compute the SAME doubles bit-for-bit: Spark forms the x*y
# products IN THE COLUMN'S ELEMENT TYPE (FloatType multiply for
# array<float> parquet columns, DoubleType multiply for
# array<double> frames), folds them LEFT-TO-RIGHT into a float64
# accumulator, then takes a float64 sqrt/divide. Vectorizing across
# rows while looping the dims keeps the per-row fold order, and
# float32/float64 multiply, exact float32->float64 upcast and float64
# add are the identical IEEE-754 operations in numpy and the JVM.
# When the two sides' element types differ, Spark promotes the float
# side to double before the multiply — mirrored by _promote. The one
# difference is a zero vector's cosine: Spark's ANSI division raises
# on 0/0, numpy gives NaN, which the top-k kernel ranks first as
# Spark's window ranks a NaN double. Pinned against the Spark form by
# tests/test_dedup_text_similarity.py::test_fold_twins_match_spark_hof.

def fold_norms(m: np.ndarray) -> np.ndarray:
    """Fold-exact norms of float32/float64 row vectors: squares in
    the input dtype, left-to-right float64 accumulation, float64
    sqrt. The input is transposed ONCE so the d accumulation passes
    read contiguous memory (a strided column walk re-touches every
    cache line of the matrix per dim — measured ~6x slower); values
    unchanged."""
    mt = np.ascontiguousarray(m.T)
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for t in range(mt.shape[0]):
        acc += mt[t] * mt[t]       # product in input dtype
    return np.sqrt(acc)


def fold_dots_t(at: np.ndarray, bt: np.ndarray) -> np.ndarray:
    """Fold-exact dot products over PRE-TRANSPOSED (d, n) (or (d, 1)
    broadcast) inputs that are already dtype-promoted: products in
    the input dtype, left-to-right float64 accumulation, reading
    contiguous rows."""
    n = max(at.shape[1], bt.shape[1])
    acc = np.zeros(n, dtype=np.float64)
    for t in range(at.shape[0]):
        acc += at[t] * bt[t]
    return acc


def fold_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Fold-exact dot products of row-aligned matrices (or a (n, d)
    matrix against one (d,) vector broadcast): products in the
    common dtype, left-to-right float64 accumulation.
    Transposed-contiguous like fold_norms."""
    a2 = a if a.ndim == 2 else a[None, :]
    b2 = b if b.ndim == 2 else b[None, :]
    a2, b2 = _promote(a2, b2)
    return fold_dots_t(np.ascontiguousarray(a2.T),
                       np.ascontiguousarray(b2.T))


def _promote(a: np.ndarray, b: np.ndarray):
    """Mirror Spark's binary-arithmetic type promotion: if either
    side is double, the float side is upcast (exactly) to double
    before the multiply."""
    if a.dtype == np.float64 and b.dtype == np.float32:
        return a, b.astype(np.float64)
    if a.dtype == np.float32 and b.dtype == np.float64:
        return a.astype(np.float64), b
    return a, b


def _fold_decide(cos, thr, a, b, na, nb, band=1e-4, exact_kept=False):
    """The one cosine threshold decision: the keep mask of
    ``cos >= thr``, where ``cos`` holds fast float64 cosines either
    of the row-aligned pairs (a[i], b[i]) — shape (n,) — or of every
    pair (a[i], b[j]) — shape (n, m). ``na``/``nb`` are fold_norms of
    ``a``/``b``.

    Every pair within ``band`` of the threshold is re-decided on the
    fold-exact cosine (fold_dots over the fold norms), and with
    ``exact_kept`` so is every kept pair, for callers that emit the
    cosine. The fast and fold cosines of 64-dim float32 vectors
    differ by at most ~2.4e-7 (64 float32 product roundings, bounded
    via Cauchy-Schwarz, plus two norm roundings), 400x inside the
    1e-4 band, so only replayed pairs can change decision and the
    kept set is exactly the fold's. ``cos`` is updated in place at
    the replayed pairs."""
    keep = cos >= thr
    near = np.abs(cos - thr) <= band
    redo = np.nonzero(near | keep if exact_kept else near)
    if len(redo[0]):
        i, j = redo[0], redo[-1]
        cos[redo] = fold_dots(a[i], b[j]) / (na[i] * nb[j])
        keep[redo] = cos[redo] >= thr
    return keep


def _np_elem_dtype(df, col: str):
    """numpy dtype matching a DataFrame's array column element type
    (float32 for array<float>, float64 for array<double>)."""
    dt = dict(df.dtypes)[col]
    return np.float32 if dt == "array<float>" else np.float64


def _as_matrix(col, dtype) -> np.ndarray:
    """Stack an Arrow/pandas column of float lists to (n, d) in the
    given dtype."""
    return np.stack([np.asarray(v, dtype=dtype) for v in col])


def _arrow_matrix(chunked, dtype) -> np.ndarray:
    """(n, d) matrix from an Arrow list<float> column without
    per-row Python objects: flatten() honours offsets, so for
    fixed-length rows the values buffer reshapes directly."""
    arr = (chunked.combine_chunks()
           if hasattr(chunked, "combine_chunks") else chunked)
    n = len(arr)
    if n == 0:
        return np.zeros((0, 1), dtype)
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    if len(flat) % n == 0 and arr.null_count == 0:
        return np.ascontiguousarray(
            flat.reshape(n, len(flat) // n).astype(dtype, copy=False))
    return _as_matrix(arr.to_pylist(), dtype)


def _concat_batches(it, target_rows=65536):
    """Re-chunk an Arrow batch iterator into ~target_rows tables.
    The session caps JVM->Python batches at 64 rows (sized for
    MB-scale raster payload rows); numeric kernels re-batch so each
    numpy call amortizes over tens of thousands of rows instead of
    paying per-64-row dispatch (guide §4.2: keep batches large
    enough for vectorization to pay off)."""
    import pyarrow as pa
    buf, n = [], 0
    for batch in it:
        if batch.num_rows == 0:
            continue
        buf.append(batch)
        n += batch.num_rows
        if n >= target_rows:
            yield pa.Table.from_batches(buf)
            buf, n = [], 0
    if buf:
        yield pa.Table.from_batches(buf)


def cosine_all_pairs_ids(emb, threshold=0.4, id_col="vec_id",
                         vec_col="embedding", band=1e-4):
    """Exact all-pairs cosine near-dup id pairs (a < b) — the
    labelled correctness baseline for the LSH scale path
    (embedding_near_dups). The emitted set is exactly the pairs whose
    fold-exact cosine (the Spark higher-order-function fold, see the
    module note) is >= ``threshold``: each pair is decided on a
    float64 BLAS cosine, and :func:`_fold_decide` replays every pair
    within ``band`` of the threshold on the fold.

    Scale shape: all-pairs exact is O(n^2) by definition, but no
    side is collected. The ids are hashed into defaultParallelism
    blocks (the same derived count as dedup's embedding keys), each
    block's (id, vector) rows are packed into one row, and every
    block pair a <= b attaches its two packed blocks through
    ``dedup._attach``. The block pairs are dealt round-robin over one
    partition each, and one mapInArrow kernel scores each pair with
    BLAS in chunks of at most 512 rows against the other block, so a
    task holds its pair's two blocks and one chunk's cosines, not the
    corpus."""
    from .dedup import _attach
    vdt = _np_elem_dtype(emb, vec_col)
    thr, bandw = float(threshold), float(band)
    spark = emb.sparkSession
    nblk = spark.sparkContext.defaultParallelism
    blocks = (emb.select(
        F.pmod(F.xxhash64(id_col), F.lit(nblk)).alias("blk"),
        F.struct(F.col(id_col).cast("long").alias("id"),
                 F.col(vec_col).alias("v")).alias("row"))
        .groupBy("blk").agg(F.collect_list("row").alias("rows")))
    pairs = spark.range(nblk).select(
        F.col("id").alias("l"),
        F.explode(F.sequence("id", F.lit(nblk - 1))).alias("r"))
    # one partition per block pair, round-robin: AQE would coalesce
    # the block exchanges (few rows, few bytes) into one task
    blk_pairs = _attach(pairs, blocks, blocks, "blk", "rows") \
        .repartition(nblk * (nblk + 1) // 2)

    def unpack(rows):
        """(ids, vectors, fold norms, unit float64 rows) of a block."""
        ids = rows.field("id").to_numpy()
        m = _arrow_matrix(rows.field("v"), vdt)
        m64 = m.astype(np.float64)
        return ids, m, fold_norms(m), \
            m64 / np.linalg.norm(m64, axis=1)[:, None]

    def score(it):
        import pyarrow as pa
        for batch in it:
            ls, rs = batch.column("l"), batch.column("r")
            vl, vr = batch.column("v_l"), batch.column("v_r")
            for p in range(batch.num_rows):
                same = ls[p].as_py() == rs[p].as_py()
                ia, ma, na, ua = unpack(vl[p].values)
                ib, mb, nb, ub = (ia, ma, na, ua) if same \
                    else unpack(vr[p].values)
                for s in range(0, len(ia), 512):
                    e = s + 512
                    keep = _fold_decide(ua[s:e] @ ub.T, thr, ma[s:e],
                                        mb, na[s:e], nb, bandw)
                    if same:
                        keep &= ia[s:e, None] < ib[None, :]
                    ki, kj = np.nonzero(keep)
                    if len(ki) == 0:
                        continue
                    x, y = ia[s:e][ki], ib[kj]
                    yield pa.record_batch(
                        [pa.array(np.minimum(x, y), pa.int64()),
                         pa.array(np.maximum(x, y), pa.int64())],
                        names=["a", "b"])

    return blk_pairs.mapInArrow(score, "a long, b long")


def _topk(queries, corpus, k, q_id, c_id, q_vec, c_vec, cells=None):
    """The one top-k path: (q_id, c_id, cosine, rank) of the ``k``
    corpus rows of highest cosine per query, ranked by (cosine desc,
    c_id asc).

    The query side is bounded (at most MAX_QUERIES rows, else a
    ValueError) and collected once; the corpus is scanned ONCE by a
    mapInArrow kernel that scores each batch against every query with
    the fold twins (see the module note) and keeps a running top-k
    per query, so the exchange carries at most tasks x queries x k
    candidate rows. The final rank window runs over that bounded
    candidate frame with the same ordering on the same doubles, so
    per-task pruning is lossless: a row ranked > k within a task
    cannot enter the global top-k under the same strict total order.

    ``cells`` (the IVF path) is (centroids, nprobe): query i then
    scores only the corpus rows whose nearest centroid is among its
    ``nprobe`` nearest, a per-query mask over the cells."""
    from .skew import spread_small_scan
    qs = queries.select(F.col(q_id).alias("q_id"),
                        F.col(q_vec).alias("qv"))
    c = corpus.select(F.col(c_id).alias("c_id"),
                      F.col(c_vec).alias("cv"))
    qdt, cdt = _np_elem_dtype(qs, "qv"), _np_elem_dtype(c, "cv")
    qpdf = qs.limit(MAX_QUERIES + 1).toPandas()
    if len(qpdf) > MAX_QUERIES:
        raise ValueError(
            f"top-k takes at most MAX_QUERIES={MAX_QUERIES} query rows "
            f"per call; split the query set across calls")
    qids = qpdf["q_id"].to_numpy()
    q = (_as_matrix(qpdf["qv"], qdt) if len(qpdf)
         else np.zeros((0, 1), qdt))
    cent = probe = None
    if cells is not None:
        cent = cells[0].astype(np.float32)
        probe = np.zeros((len(q), len(cent)), bool)
        np.put_along_axis(
            probe, _nearest_cells(q.astype(np.float32), cent, cells[1]),
            True, axis=1)
    sc = queries.sparkSession.sparkContext
    bc = sc.broadcast((qids, q, fold_norms(q), cent, probe))
    kk = int(k)

    def score(it):
        import pyarrow as pa
        qids_, q_, qn_, cent_, probe_ = bc.value
        top = [None] * len(qids_)    # per query: (c_id, cosine) best k
        for tbl in _concat_batches(it):
            if len(qids_) == 0:
                continue
            cid = tbl.column(0).to_numpy()
            cv = _arrow_matrix(tbl.column(1), cdt)
            cn = fold_norms(cv)
            if probe_ is not None:
                own = _nearest_cells(cv.astype(np.float32, copy=False),
                                     cent_, 1)[:, 0]
            for i in range(len(qids_)):
                rows = slice(None) if probe_ is None else probe_[i][own]
                ci = cid[rows]
                if len(ci) == 0:
                    continue
                cos = fold_dots(cv[rows], q_[i]) / (qn_[i] * cn[rows])
                if top[i] is not None:
                    ci = np.concatenate([top[i][0], ci])
                    cos = np.concatenate([top[i][1], cos])
                # (cosine desc, c_id asc): lexsort is stable, last key
                # primary. Spark orders NaN as LARGER than any double,
                # so a NaN cosine (zero-norm vector) must rank first —
                # map NaN to +inf for the pruning key only.
                key = np.where(np.isnan(cos), np.inf, cos)
                order = np.lexsort((ci, -key))[:kk]
                top[i] = (ci[order], cos[order])
        hit = [i for i, t in enumerate(top) if t is not None]
        if not hit:
            return
        yield pa.record_batch(
            [pa.array(qids_[np.repeat(hit, [len(top[i][0])
                                            for i in hit])]),
             pa.array(np.concatenate([top[i][0] for i in hit])),
             pa.array(np.concatenate([top[i][1] for i in hit]),
                      pa.float64())],
            names=["q_id", "c_id", "cosine"])

    qt, ct = dict(qs.dtypes)["q_id"], dict(c.dtypes)["c_id"]
    cand = spread_small_scan(c).mapInArrow(
        score, f"q_id {qt}, c_id {ct}, cosine double")
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(),
                                           F.col("c_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "c_id", "cosine", "rank"))


def brute_force_topk(queries, corpus, k=5,
                     q_id="q_id", c_id="vec_id",
                     q_vec="embedding", c_vec="embedding"):
    """Exact cosine top-k of each query row over the whole corpus
    (:func:`_topk`)."""
    return _topk(queries, corpus, k, q_id, c_id, q_vec, c_vec)


def train_ivf_centroids(corpus, n_cells=16, vec_col="embedding",
                        sample=4096):
    """Coarse quantizer: deterministic Lloyd (diagonal init — same
    kernel as the segmentation fit) over a driver-collected sample,
    the first ``sample`` rows the scan of ``corpus`` yields."""
    pdf = (corpus.select(vec_col).limit(sample).toPandas())
    x = np.stack([np.asarray(v, dtype=np.float64)
                  for v in pdf[vec_col]])
    # diagonal init over the bounding box
    mn, mx = x.min(axis=0), x.max(axis=0)
    step = (mx - mn) / (n_cells + 1)
    init = mn[None, :] + np.arange(1, n_cells + 1)[:, None] * step
    return lloyd_kmeans(x, init)


def _nearest_cells(m32: np.ndarray, cent32: np.ndarray,
                   nprobe: int) -> np.ndarray:
    """Each float32 row's ``nprobe`` nearest centroids: float32
    squared distances summed over the last axis, then argsort."""
    d = ((m32[:, None, :] - cent32[None, :, :]) ** 2).sum(axis=2)
    return np.argsort(d, axis=1)[:, :nprobe]


def ivf_topk(queries, corpus, centroids, k=5, nprobe=4,
             q_id="q_id", c_id="vec_id",
             q_vec="embedding", c_vec="embedding"):
    """IVF ANN: corpus vectors live in their nearest cell; each query
    probes its ``nprobe`` nearest cells, so only ~nprobe/n_cells of
    the corpus is scored per query. Recall < 1 only when a true
    neighbour lives outside the probed cells (raise nprobe for
    recall, classic IVF trade-off); with nprobe = n_cells it returns
    exactly :func:`brute_force_topk`. Runs the one top-k kernel
    (:func:`_topk`), which assigns each corpus batch's cells
    in-kernel."""
    return _topk(queries, corpus, k, q_id, c_id, q_vec, c_vec,
                 cells=(centroids, int(nprobe)))
