"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products via zip_with/aggregate (JVM higher-order functions, no UDF);
  top-k via window row_number per query.
- ``lsh_topk``: the scale path — random-hyperplane LSH bucketing; only
  vectors sharing a bucket pair up, turning O(N*Q) into O(N*Q/2^bits)
  expected. Hyperplane weights derive deterministically from md5 hashes so
  results (and the DuckDB oracle) are reproducible without RNG state.
- ``ivf_topk``: IVF-style variant — coarse quantizer = an existing integer
  bucket column (at scale: k-means centroid ids); probes only the query's
  cell.

At 100 TB the embedding table is bucketed by the coarse id; the probe join
is then storage-partitioned (no shuffle of the big side), and the query set
is broadcast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dbl(c: str | Column) -> Column:
    """Cast array<float> -> array<double> so accumulation is double-precision
    (and bitwise-reproducible in the DuckDB oracle)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: str | Column, b: str | Column) -> Column:
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(c: str | Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(_dbl(c), lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )


def _seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot that accumulates LEFT-TO-RIGHT (cumsum is a sequential
    scan, not pairwise summation) — bit-identical to the JVM
    ``zip_with``/``aggregate`` fold it replaces, so every cosine and
    hyperplane sign below matches the old expressions and the DuckDB
    oracles exactly."""
    return np.cumsum(A * B, axis=1)[:, -1]


def _pair_cosine_udf():
    """pandas UDF: cosine over ALIGNED (qvec, cvec) pair columns — one
    Arrow batch of NumPy per task instead of an interpreted per-element
    lambda chain per pair (optimization guide §4.2). Same double
    arithmetic, same accumulation order as the old ``_dot/_norm`` fold."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ok = a.notna() & b.notna()  # old fold null-propagated a NULL vector
        if not ok.all():
            out = pd.Series([None] * len(a), index=a.index, dtype="object")
            if ok.any():
                A = np.array(a[ok].tolist(), dtype=np.float64)
                B = np.array(b[ok].tolist(), dtype=np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    out[ok] = _seq_dot(A, B) / (
                        np.sqrt(_seq_dot(A, A)) * np.sqrt(_seq_dot(B, B))
                    )
            return out
        A = np.array(a.tolist(), dtype=np.float64)
        B = np.array(b.tolist(), dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = _seq_dot(A, B) / (
                np.sqrt(_seq_dot(A, A)) * np.sqrt(_seq_dot(B, B))
            )
        return pd.Series(out)

    return _cos


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k per query vector.

    The (small) query side ships to every task inside the scorer closure —
    the same bounded rows the previous plan collected for its broadcast
    join; the corpus streams through ONE Arrow pass that scores a whole
    batch against all queries in NumPy and emits only each query's
    per-batch top-k candidates (a correct prune: a global top-k row is a
    per-batch top-k row under the same (cosine desc, id) order), so the
    final window ranks a few hundred candidate rows instead of
    |corpus| x |queries| interpreted-lambda pairs. Dots accumulate
    left-to-right (``_seq_dot``), so cosines are bit-identical to the old
    fold. Output: (query_id, neighbor_id, cosine, rank)."""
    from pyspark.sql import types as T

    from ..session import spread
    from .pq import collect_query_rows

    qrows = collect_query_rows(queries.select(id_col, vec_col))
    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    qids = [r[0] for r in qrows]
    qvecs = [r[1] for r in qrows]
    Q_ok = [v is not None for v in qvecs]
    _dim = len(next((v for v in qvecs if v is not None), [0.0])) or 1
    Q = (
        np.array(
            [v if v is not None else [0.0] * _dim for v in qvecs],
            dtype=np.float64,
        )
        if qrows
        else np.zeros((0, 1))
    )
    qn = np.sqrt(_seq_dot(Q, Q)) if qrows else np.zeros(0)
    kk = int(k)

    def _score(batches):
        for pdf in batches:
            if not len(pdf) or not qids:
                continue
            # NULL corpus/query vectors made the old per-pair cosine NULL;
            # the rank window orders cosine DESC with NULLS LAST, so such
            # candidates only surface when a query has < k scored rows.
            # Emit up to k of them per batch (id order — the window's
            # tiebreak) with a None cosine so that edge stays identical.
            ok = pdf[vec_col].notna().to_numpy()
            nids_all = pdf[id_col].to_numpy()
            nids = nids_all[ok]
            null_ids = np.sort(nids_all[~ok])[:kk]
            X = (
                np.array(pdf[vec_col][ok].tolist(), dtype=np.float64)
                if ok.any()
                else np.zeros((0, 1))
            )
            xn = np.sqrt(_seq_dot(X, X)) if len(X) else np.zeros(0)
            out_q, out_n, out_c = [], [], []
            for j, qid in enumerate(qids):
                if Q_ok[j] and len(X):
                    with np.errstate(divide="ignore", invalid="ignore"):
                        s = _seq_dot(X, Q[j]) / (qn[j] * xn)
                    mask = nids != qid
                    key = np.where(np.isnan(s), np.inf, s)  # NaN first desc
                    order = np.lexsort((nids[mask], -key[mask]))[:kk]
                    sel = np.nonzero(mask)[0][order]
                    out_q.extend([qid] * len(sel))
                    out_n.extend(nids[sel])
                    out_c.extend(s[sel])
                elif not Q_ok[j]:
                    # null QUERY vector: every cosine was NULL — candidates
                    # rank purely by id
                    cand = np.sort(nids_all[nids_all != qid])[:kk]
                    out_q.extend([qid] * len(cand))
                    out_n.extend(cand)
                    out_c.extend([None] * len(cand))
                    continue
                for nid in null_ids:
                    if nid != qid:
                        out_q.append(qid)
                        out_n.append(nid)
                        out_c.append(None)
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
                )

    scored = spread(corpus.select(id_col, vec_col)).mapInPandas(
        _score, out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_signature(
    vec_col: str | Column, dim: int, bits: int = 8, seed: str = "lsh"
) -> Column:
    """Random-hyperplane sign signature as an int column.

    Hyperplane h_b weight on dimension d = ±1 chosen by a portable hash of
    (seed, b, d) — deterministic, no RNG, reproducible in SQL.

    The weights depend only on (seed, b, d), so the ``bits x dim`` ±1
    matrix is hashed ONCE here (hashlib, same md5-prefix recipe the SQL
    twin uses) and the per-vector work is a batched NumPy projection — the
    old expression re-derived every weight with an interpreted md5 lambda
    per (vector, bit, dimension), ~7.7M hashes per 20k-vector pass. Each
    projection accumulates left-to-right (``_seq_dot``), so every sign —
    and therefore every signature and the x5c oracle — is bit-identical."""
    from hashlib import md5 as _md5

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    # float32 input is cast to double BEFORE multiplying in the old lambda
    # (zip_with over the raw float column multiplies after Spark's implicit
    # float->double promotion); numpy does the same via astype below.
    W = np.array(
        [
            [
                1.0
                if int(
                    _md5(f"{seed}_{b}_{d}".encode("utf-8")).hexdigest()[:8], 16
                )
                % 2
                == 0
                else -1.0
                for d in range(dim)
            ]
            for b in range(bits)
        ],
        dtype=np.float64,
    )
    weights = [1 << b for b in range(bits)]

    @pandas_udf(IntegerType())
    def _sig(vecs: pd.Series) -> pd.Series:
        # a NULL vector's old per-bit fold was NULL, and when(NULL > 0)
        # fell through to otherwise(0) — every bit 0, signature 0
        ok = vecs.notna()
        sig = np.zeros(len(vecs), dtype=np.int64)
        if ok.any():
            V = np.array(vecs[ok].tolist(), dtype=np.float64)
            sub = np.zeros(len(V), dtype=np.int64)
            for b in range(W.shape[0]):
                terms = _seq_dot(V, W[b])
                sub += np.where(terms > 0, weights[b], 0)
            sig[ok.to_numpy()] = sub
        return pd.Series(sig.astype("int32"), index=vecs.index)

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _sig(c)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 6,
    dim: int = 64,
    tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: pair only vectors sharing a hyperplane signature in at least one
    of ``tables`` independent hash tables, then exact cosine + top-k within
    the candidates.

    One table misses any neighbor split by a single hyperplane — recall was
    measured at ~0.13 on the synthetic embeddings with tables=1. Standard
    multi-table LSH: P(candidate) = 1-(1-p^bits)^tables, so recall climbs
    fast with tables while candidate volume grows only linearly (corpus
    rows x tables in the exploded signature set). Duplicate cross-table
    pairs collapse via a groupBy on the (query, neighbor) ids — only id
    pairs + the cosine scalar shuffle, never vectors. Recall is reported
    per-bench as ``lsh_recall_at_5`` vs cosine_topk."""
    # table 0 keeps the historical seed so single-table results (and the
    # x5c signature oracle) are unchanged
    def _sig(t: int) -> Column:
        return hyperplane_signature(
            vec_col, dim, bits, seed="lsh" if t == 0 else f"lsh{t}"
        )

    sigs = F.array(
        *[F.struct(F.lit(t).alias("t"), _sig(t).alias("s")) for t in range(tables)]
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.explode(sigs).alias("sig"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(sigs).alias("sig"),
    )
    scored = (
        c.join(F.broadcast(q), "sig")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _pair_cosine_udf()(F.col("qvec"), F.col("cvec")))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_build(
    corpus: DataFrame,
    n_cells: int = 64,
    iterations: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 4096,
    spill: int = 1,
    seed: str = "ivf",
):
    """REAL IVF index build: spherical k-means coarse quantizer + cell
    assignment (round-3 verdict: probing the semantic ``label`` column gave
    recall ~= scan fraction because labels carry no cosine signal — the
    quantizer must be GEOMETRIC).

    Training runs on a deterministic md5-ordered sample collected to the
    driver and iterated in numpy — quantizer training is sample-bound by
    standard IVF practice (FAISS trains on 10^4-10^5 vectors regardless of
    corpus size), so the collect is O(sample_n x dim), never O(corpus).
    The full-corpus work is ONLY the assignment: an Arrow-batched BLAS
    matmul per batch (one pandas UDF, linear scan, no k-way row blowup —
    the explode-per-centroid relational argmax would shuffle n_cells x
    corpus rows).

    ``spill`` > 1 indexes each vector in its ``spill`` nearest cells
    (SOAR-style spill assignment): the index grows linearly but
    boundary-split neighbors — the bulk of IVF misses — become reachable.

    Returns ``(centroids, assigned)``: the [n_cells, dim] numpy centroid
    matrix and a (id, vec, cell) DataFrame with ``spill`` rows per vector.
    """
    samp = (
        corpus.select(F.col(id_col), _dbl(vec_col).alias("_v"))
        .withColumn(
            "_h", F.md5(F.concat_ws("_", F.lit(seed), F.col(id_col).cast("string")))
        )
        .orderBy("_h")
        .limit(sample_n)
        .collect()
    )
    X = np.array([r["_v"] for r in samp], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:n_cells].copy()
    for _ in range(iterations):
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        a = np.argmax(X @ Cn.T, axis=1)
        for j in range(n_cells):
            m = a == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    assign = nearest_cells_udf(corpus.sparkSession, C, spill)
    assigned = corpus.select(
        F.col(id_col), F.col(vec_col), F.explode(assign(F.col(vec_col))).alias("cell")
    )
    return C, assigned


def nearest_cells_udf(spark, centroids, n: int):
    """pandas UDF: embedding -> its ``n`` nearest centroid ids (cosine),
    one broadcast of the (tiny) centroid matrix, batch matmul per Arrow
    batch — the linear-scan assignment/probe kernel for ivf_build."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    bcast = spark.sparkContext.broadcast(np.ascontiguousarray(centroids))

    @pandas_udf(ArrayType(IntegerType()))
    def _cells(vecs: pd.Series) -> pd.Series:
        C = bcast.value
        V = np.array(vecs.tolist(), dtype=np.float64)
        V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        sims = V @ C.T
        # full argsort of n_cells columns; top-n by similarity, id tiebreak
        top = np.argsort(-sims, axis=1, kind="stable")[:, :n]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return _cells


def ivf_topk_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 64,
    nprobe: int = 16,
    iterations: int = 8,
    spill: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    built=None,
):
    """IVF ANN over k-means cells: probe the query's ``nprobe`` nearest
    cells of the trained quantizer, exact-cosine re-rank within candidates.
    ``built`` (from ``ivf_build``) lets one index serve many probe configs.
    Returns ((query_id, neighbor_id, cosine, rank), scanned-candidates DF)
    — the second element is the candidate set BEFORE re-rank so callers can
    measure the true scan fraction rather than assume nprobe/n_cells."""
    C, assigned = built if built is not None else ivf_build(
        corpus, n_cells, iterations, id_col, vec_col, spill=spill
    )
    probe = nearest_cells_udf(corpus.sparkSession, C, nprobe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(probe(F.col(vec_col))).alias("cell"),
    )
    cand = (
        assigned.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"), "cell"
        )
        .join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # spill/multi-probe duplicates collapse BEFORE the cosine math
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("qvec").alias("qvec"), F.first("cvec").alias("cvec"))
        # persisted because the caller counts `cand` for the measured scan
        # fraction while `topk` re-reads it — one materialization of the
        # assignment+probe pipeline instead of two (timed-region only)
        .persist()
    )
    scored = cand.withColumn(
        "cosine", _pair_cosine_udf()(F.col("qvec"), F.col("cvec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
    return topk, cand.select("query_id", "neighbor_id")


def ivf_centroids(
    corpus: DataFrame,
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell mean vector, fully relational: posexplode -> (cell, dim)
    partial-aggregated avg -> re-assembled array. One shuffle of scalar
    (cell, pos, sum) triples; the output is tiny (n_cells rows) and
    broadcastable."""
    return (
        corpus.select(
            F.col(cell_col).alias("cell"), F.posexplode(_dbl(vec_col)).alias("pos", "v")
        )
        .groupBy("cell", "pos")
        .agg(F.avg("v").alias("v"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda x: x["v"]
            ).alias("centroid")
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF probe: search only the query's ``nprobe`` closest coarse cells.

    nprobe=1 keeps the historical own-cell behavior (and the x5b oracle
    semantics: the query's assigned label IS its nearest cell). nprobe>1
    ranks cells by centroid cosine (ivf_centroids — computed relationally,
    broadcast) and probes the top-n, the standard recall/latency dial:
    neighbors just across a cell boundary were the bulk of the tables=1
    misses (~0.13 recall measured)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col(cell_col).alias("cell"),
    )
    if nprobe <= 1:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.col(cell_col).alias("cell"),
        )
    else:
        cent = ivf_centroids(corpus, cell_col, vec_col)
        qc = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        ).crossJoin(F.broadcast(cent))
        wq = Window.partitionBy("query_id").orderBy(
            (_dot("qvec", "centroid") / (_norm("qvec") * _norm("centroid"))).desc(),
            F.col("cell"),
        )
        q = (
            qc.withColumn("cell_rank", F.row_number().over(wq))
            .filter(F.col("cell_rank") <= nprobe)
            .select("query_id", "qvec", "cell")
        )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _pair_cosine_udf()(F.col("qvec"), F.col("cvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# -- clustered-corpus synthesis ----------------------------------------------

_SM_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer: uint64 array -> well-mixed uint64."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _SM_MASK
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9) & _SM_MASK
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB) & _SM_MASK
    return x ^ (x >> np.uint64(31))


def _hash_normals(ids: np.ndarray, dim: int, seed: int) -> np.ndarray:
    """[len(ids), dim] standard normals that are a PURE FUNCTION of
    (seed, vec_id, component) — splitmix64 -> uniform -> Box-Muller — so the
    generated table is identical under any partitioning / cluster size."""
    base = ids.astype(np.uint64)[:, None] * np.uint64(2 * dim) + np.arange(
        2 * dim, dtype=np.uint64
    )[None, :]
    with np.errstate(over="ignore"):
        h = _splitmix64(base + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15))
    u = ((h >> np.uint64(11)).astype(np.float64) + 1.0) * (2.0**-53)  # (0, 1]
    u1, u2 = u[:, :dim], u[:, dim:]
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)


def synthesize_clustered_embeddings(
    spark,
    n: int,
    dim: int = 64,
    n_clusters: int = 50,
    spread: float = 0.6,
    seed: int = 13,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic mixture-of-Gaussians embedding corpus — the geometry
    real text/image embedding tables show (topical clusters with wide
    inter-topic margins), in contrast to the ISOTROPIC testdata corpus
    whose exact-top-k label purity is chance (round-3 finding) and which
    therefore bounds any ANN index's recall by its scan fraction.

    Each vector is its cluster's unit centroid plus isotropic noise of
    expected norm ``spread``, renormalized: intra-cluster cosine
    concentrates near 1/sqrt(1 + spread^2) (~0.86 at the 0.6 default)
    while inter-centroid cosines concentrate near 0 (+-1/sqrt(dim)).
    ``label`` carries the TRUE cluster id for ground-truth evaluation.

    Scale: centroids are the only driver-side array (O(n_clusters x dim));
    rows are generated executor-side by a vectorized Arrow batch whose
    randomness is a pure hash of (seed, vec_id, component) — identical
    output at any partitioning, any cluster size, no RNG state to ship.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, FloatType

    centers = _hash_normals(
        np.arange(n_clusters, dtype=np.uint64), dim, seed ^ 0x5EED
    )
    centers /= np.maximum(np.linalg.norm(centers, axis=1, keepdims=True), 1e-12)
    bcast = spark.sparkContext.broadcast(centers)
    comp_sigma = spread / np.sqrt(dim)

    @pandas_udf(ArrayType(FloatType()))
    def _vec(ids: pd.Series) -> pd.Series:
        C = bcast.value
        iv = ids.to_numpy(dtype=np.int64)
        g = _hash_normals(iv.astype(np.uint64), dim, seed)
        X = C[iv % n_clusters] + comp_sigma * g
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series([row.astype(np.float32).tolist() for row in X])

    rng = spark.range(0, n, numPartitions=partitions) if partitions else spark.range(0, n)
    return rng.select(
        F.col("id").cast("long").alias("vec_id"),
        _vec(F.col("id")).alias("embedding"),
        (F.col("id") % n_clusters).cast("int").alias("label"),
    )


# -- IVF index persistence ----------------------------------------------------

def ivf_write(built, index_dir: str) -> None:
    """Persist an ``ivf_build`` result: the centroid matrix as a tiny
    parquet (cell, centroid) table and the cell assignment as a parquet
    table PARTITIONED BY cell — at scale each probe then reads only its
    ``nprobe`` cell partitions (partition pruning), never the full index;
    the layout maps 1:1 onto an Iceberg table partitioned by cell."""
    C, assigned = built
    spark = assigned.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(C)],
        "cell int, centroid array<double>",
    )
    cent.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    (
        assigned.repartition(F.col("cell"))
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(f"{index_dir}/cells")
    )


def ivf_read(spark, index_dir: str):
    """Load a persisted IVF index back into the ``(centroids, assigned)``
    shape ``ivf_topk_kmeans(built=...)`` consumes. The centroid matrix is
    tiny (n_cells x dim); the assignment DataFrame is lazy — queries that
    probe k cells scan only those partitions."""
    rows = spark.read.parquet(f"{index_dir}/centroids").orderBy("cell").collect()
    C = np.array([r["centroid"] for r in rows], dtype=np.float64)
    assigned = spark.read.parquet(f"{index_dir}/cells")
    return C, assigned
