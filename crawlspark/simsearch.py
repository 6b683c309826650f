"""Similarity search over an embedding column (``array<float>``).

- ``topk_bruteforce``: exact cosine top-k of a small query set against the
  corpus — the correctness baseline.  The query side is broadcast (it is
  small by contract), so the corpus is scanned once with no shuffle.
- ``topk_bruteforce_arrow``: the same exact scan, BLAS-vectorized.
- ``hyperplane_buckets`` + ``topk_lsh``: random-hyperplane LSH (Charikar,
  STOC'02) — sign-bit bucket per vector; candidate set = same bucket under
  any of ``n_tables`` independent sign-bit projections; exact cosine re-rank
  of candidates.  At 100 TB the bucket join replaces the O(n·q) scan.

Bucket computation is ONE numpy matmul per Arrow batch inside the Arrow
runner ``session.map_batches`` (all tables' planes stacked into a single
(T·B, dim) matrix) — no per-plane literal arrays, no interpreted
higher-order dot products in the hot path.
Hyperplane components are deterministic (numpy PCG seeded per table, seeds
42+t) so buckets are reproducible across runs, batch sizes, and cluster
sizes; the driver computes the (small-by-contract) query side's buckets with
the same matrix, so no corpus-side persist/cache is ever needed.

Every embedding operator's vector arithmetic lives here: ``unit_rows`` and
``collect_matrix``/``rows_matrix``/``vec_matrix`` on the numpy side,
``vectors`` and ``cosine`` (over ``_as_double``/``_norm``/``_dot``) on the
Spark side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark.session import map_batches

DIM = 64


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def vectors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vid, v: array<double>, norm) — the Spark side of every cosine.  The
    sequential-sum expressions are the DuckDB oracles' form, so any cosine
    built from them is bit-identical to a per-pair SQL evaluation."""
    return emb.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("norm", _norm(F.col("v")))


def cosine(a: Column, na: Column, b: Column, nb: Column) -> Column:
    return _dot(a, b) / (na * nb)


def _query_filter(ids: Column, query_ids: list[int] | None) -> Column:
    """The top-k query selector: the given ids, else the first 8 vec_ids."""
    return ids.isin(query_ids) if query_ids else ids < 8


def unit_rows(M: np.ndarray) -> np.ndarray:
    """Row-wise unit normalization — the numpy side of every cosine."""
    return M / np.linalg.norm(M, axis=1, keepdims=True)


def vec_matrix(vecs) -> np.ndarray:
    """Vectors (one list or array per row, e.g. an Arrow batch's vector
    column) -> float64 matrix.  No rows gives a (0, DIM) matrix, so every
    matmul against it stays well-formed."""
    vecs = list(vecs)
    if not vecs:
        return np.empty((0, DIM), dtype=np.float64)
    return np.array(vecs, dtype=np.float64)


def rows_matrix(ids, vecs) -> tuple[np.ndarray, np.ndarray]:
    """Row ids and vectors -> (int64 ids, ``vec_matrix``)."""
    return np.array(ids, dtype=np.int64), vec_matrix(vecs)


def collect_matrix(df: DataFrame, id_col: str, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    """Collect a small-by-contract side (query rows, centroids, bench rows)
    as ``rows_matrix`` sorted by id."""
    rows = sorted((int(r[0]), list(r[1])) for r in df.select(id_col, vec_col).collect())
    return rows_matrix([i for i, _ in rows], [v for _, v in rows])


def topk_bruteforce(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (q_vec_id, neighbor_id, rk).
    Broadcast the (small) query side; rank = window per query with a
    deterministic vec_id tie-break; self-matches excluded."""
    d = vectors(emb, id_col, vec_col)
    q = d.filter(_query_filter(F.col("vid"), query_ids)).select(
        F.col("vid").alias("q_vec_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    joined = d.crossJoin(F.broadcast(q)).filter(F.col("vid") != F.col("q_vec_id"))
    cos = cosine(F.col("qv"), F.col("qn"), F.col("v"), F.col("norm"))
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("cos"), F.asc("vid"))
    return (
        joined.withColumn("cos", cos)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_vec_id", F.col("vid").alias("neighbor_id"), "rk")
    )


def topk_bruteforce_arrow(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow fast path for the exact top-k scan (SURVEY §2 J4): the query
    matrix is collected once (small by contract) and broadcast into a
    mapInPandas stage that computes cosine via one numpy matmul per Arrow
    batch and keeps only each batch's local top-k per query — Spark's
    higher-order array functions are interpreted per element, while this
    path is BLAS-vectorized.  A final window over the <= k·n_batches
    survivors yields the exact global top-k (identical to
    topk_bruteforce; oracle-checked as q44)."""
    q_ids, Q = collect_matrix(
        emb.filter(_query_filter(F.col(id_col), query_ids)), id_col, vec_col
    )
    Qn = unit_rows(Q)

    out_schema = T.StructType(
        [
            T.StructField("q_vec_id", T.LongType()),
            T.StructField("vid", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def fn(pdf):
        ids, V = rows_matrix(pdf[id_col], pdf[vec_col])
        C = unit_rows(V) @ Qn.T
        qi: list[int] = []
        sel: list[int] = []
        for i, q in enumerate(q_ids):  # each query's local top-k, self excluded
            mask = ids != q
            top = np.where(mask)[0][np.argsort(-C[mask, i], kind="stable")[:k]]
            qi += [i] * len(top)
            sel += top.tolist()
        return {"q_vec_id": q_ids[qi], "vid": ids[sel], "cos": C[sel, qi]}

    cand = map_batches(emb, [id_col, vec_col], out_schema, fn)
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("cos"), F.asc("vid"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_vec_id", F.col("vid").alias("neighbor_id"), "rk")
    )


# ------------------------------------------------------ hyperplane LSH buckets


def _planes_matrix(n_planes: int, n_tables: int, dim: int = DIM) -> np.ndarray:
    """All tables' planes stacked into one (n_tables * n_planes, dim) matrix.
    Per-table seeds 42+t keep every table's projection independent AND
    reproducible across runs/batch sizes/cluster sizes."""
    return np.vstack(
        [
            np.random.default_rng(42 + t).standard_normal((n_planes, dim))
            for t in range(n_tables)
        ]
    )


def _bucket_ids(V: np.ndarray, planes: np.ndarray, n_planes: int, n_tables: int) -> np.ndarray:
    """(n, n_tables) int64 sign-bit bucket ids — one matmul for all tables."""
    signs = (V @ planes.T) > 0  # (n, T*B)
    bits = signs.reshape(len(V), n_tables, n_planes)
    weights = (1 << np.arange(n_planes, dtype=np.int64))[None, None, :]
    return (bits * weights).sum(axis=2).astype(np.int64)


_BUCKET_SCHEMA = T.StructType(
    [
        T.StructField("vid", T.LongType()),
        T.StructField("table", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
    ]
)


def hyperplane_buckets(
    emb: DataFrame,
    n_planes: int = 12,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, table, bucket): sign-bit bucket id per hash table, computed as
    one numpy matmul per Arrow batch (planes shipped as a closure constant —
    a few KB).  Output is narrow (three fixed-width columns): at 100 TB the
    bucket table is what shuffles, never the vectors."""
    planes = _planes_matrix(n_planes, n_tables)
    tables_idx = np.arange(n_tables, dtype=np.int32)

    def fn(pdf):
        ids, V = rows_matrix(pdf[id_col], pdf[vec_col])
        buckets = _bucket_ids(V, planes, n_planes, n_tables)  # (n, T)
        return {
            "vid": np.repeat(ids, n_tables),
            "table": np.tile(tables_idx, len(ids)),
            "bucket": buckets.ravel(),
        }

    return map_batches(emb, [id_col, vec_col], _BUCKET_SCHEMA, fn)


def topk_lsh(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_planes: int = 5,
    n_tables: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share a bucket with the query in any
    table; exact cosine re-rank of candidates.  Recall grows with n_tables;
    the bucket equi join keeps cost ~ corpus/2^n_planes per query.

    The query side is small by contract: its vectors are collected once and
    its buckets computed driver-side with the same plane matrix, so the
    corpus-side bucket frame is consumed exactly once (no persist, no
    second scan)."""
    spark = emb.sparkSession
    q_ids, Q = collect_matrix(
        emb.filter(_query_filter(F.col(id_col), query_ids)), id_col, vec_col
    )
    planes = _planes_matrix(n_planes, n_tables)
    qb = _bucket_ids(Q, planes, n_planes, n_tables)  # (nq, T)
    qb_df = spark.createDataFrame(
        [
            (int(q_ids[i]), t, int(qb[i, t]))
            for i in range(len(q_ids))
            for t in range(n_tables)
        ],
        "q_vec_id long, table int, bucket long",
    )
    cb = hyperplane_buckets(emb, n_planes, n_tables, id_col, vec_col)
    cand_ids = (
        cb.join(F.broadcast(qb_df), ["table", "bucket"])
        .filter(F.col("vid") != F.col("q_vec_id"))
        .select("q_vec_id", "vid")
        .distinct()
    )
    # exact cosine re-rank of the candidates — vectors joined back from the
    # base table (never carried through the bucket shuffle); the RAW query
    # vectors get the same Spark norm expression as the corpus so both
    # sides of the division are bit-identical to topk_bruteforce's
    d = vectors(emb, id_col, vec_col)
    qv_df = (
        spark.createDataFrame(
            [(int(q_ids[i]), [float(x) for x in Q[i]]) for i in range(len(q_ids))],
            "q_vec_id long, qv array<double>",
        )
        .withColumn("qn", _norm(F.col("qv")))
    )
    cand = cand_ids.join(d, "vid").join(F.broadcast(qv_df), "q_vec_id")
    cos = cosine(F.col("qv"), F.col("qn"), F.col("v"), F.col("norm"))
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("cos"), F.asc("vid"))
    return (
        cand.withColumn("cos", cos)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_vec_id", F.col("vid").alias("neighbor_id"), "rk", F.round("cos", 4).alias("cos"))
    )


# ------------------------------------------------------------- IVF coarse index

# Fixed-point scale for Lloyd's centroid means: component sums are exact
# integer arithmetic (order-independent — a float sum would depend on the
# nondeterministic partial-aggregate merge order), so trained centroids are
# bit-identical across runs, partitionings, AND the DuckDB oracle.  At 1e6
# scale a 64-bit sum holds ~9e11 rows per cell before overflow.
_FP_SCALE = 1_000_000.0


def _seed_centroids(d: DataFrame, n_cells: int) -> DataFrame:
    """Deterministic k-means init: the corpus vectors with ids
    [8, 8+n_cells) — reproducible and SQL-mirrorable, standing in for a
    random-restart init."""
    return d.filter((F.col("vid") >= 8) & (F.col("vid") < 8 + n_cells)).select(
        F.col("vid").alias("cid"), F.col("v").alias("cv")
    )


def _nearest(V: np.ndarray, Cn: np.ndarray) -> np.ndarray:
    """Row index of each vector's nearest (cosine) unit centroid; ties go
    to the lowest cid (first argmax), matching the struct-argmax order."""
    return (unit_rows(V) @ Cn.T).argmax(axis=1)


def _cell_sums(V: np.ndarray, Cn: np.ndarray):
    """One Lloyd's assignment over raw vectors ``V``: (cell index, n,
    int64 fixed-point component sums) for every non-empty cell."""
    best = _nearest(V, Cn)
    Vs = np.floor(V * _FP_SCALE).astype(np.int64)
    out = []
    for ci in range(len(Cn)):
        m = best == ci
        n = int(m.sum())
        if n:
            out.append((ci, n, Vs[m].sum(axis=0)))
    return out


def train_ivf_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    n_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    driver_max_rows: int = 200_000,
) -> DataFrame:
    """Lloyd's k-means coarse codebook.  Returns (cid, cv: array<double>).

    Each round assigns every vector to its nearest (cosine) centroid and
    replaces each centroid with its cell mean.  Empty cells keep their
    previous centroid.

    Determinism contract: init is seeded (ids [8, 8+n_cells); an id the
    input lacks seeds no cell, so an empty input gives an empty codebook);
    means use exact integer sums at ``_FP_SCALE`` (order-independent,
    unlike float sums) so results are bit-identical across runs, partitionings, batch
    sizes, and the q57 DuckDB mirror (which unrolls the same rounds as
    CTEs).

    The executor is picked by input size, never by the caller: a bounded
    probe scans at most ``driver_max_rows + 1`` narrow rows.
    - At most ``driver_max_rows`` rows: ONE collect, then all rounds as
      local numpy — the standard coarse-quantizer recipe (FAISS trains IVF
      codebooks on a driver-sized sample), collapsing 2·n_rounds+ Spark
      jobs into one.
    - Larger inputs: each round runs inside ONE mapInPandas pass (numpy
      matmul argmax plus per-cell fixed-point partial sums per Arrow
      batch), reduced by a tiny groupBy(cid) over n_batches × n_cells rows;
      centroids are localCheckpointed between rounds (n_cells rows).
    Both executors share ``_cell_sums``, so they are bit-identical
    (equality-tested) and the choice changes cost, never results.  At
    100 TB a codebook is trained on a sample (emb.sample(...)); pass the
    sample here, the full frame to ivf_topk/ivf_assign_arrow."""
    d = emb.select(F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v"))
    # bounded probe, never a full count: a full d.count() would add a
    # whole-table pass to the path whose purpose is collapsing Spark jobs
    probe = d.select(F.lit(1).alias("one")).limit(driver_max_rows + 1).count()
    if probe <= driver_max_rows:
        ids, V = collect_matrix(d, "vid", "v")
        pos = {int(vid): j for j, vid in enumerate(ids)}
        # a seed id absent from the input seeds no cell (as _seed_centroids'
        # filter does), so an empty input trains an empty codebook
        c_ids = [c for c in range(8, 8 + n_cells) if c in pos]
        C = V[[pos[c] for c in c_ids]]
        for _ in range(n_rounds if c_ids else 0):
            for ci, n, sums in _cell_sums(V, unit_rows(C)):
                C[ci] = sums.astype(np.float64) / n / _FP_SCALE
        return emb.sparkSession.createDataFrame(
            [(c, [float(x) for x in C[ci]]) for ci, c in enumerate(c_ids)],
            "cid long, cv array<double>",
        )
    cents = _seed_centroids(d, n_cells)
    part_schema = T.StructType(
        [
            T.StructField("cid", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.LongType())),
        ]
    )
    for _ in range(n_rounds):
        c_ids, C = collect_matrix(cents, "cid", "cv")
        dim = C.shape[1]

        def fn(pdf, c_ids=c_ids, Cn=unit_rows(C)):
            cells = _cell_sums(vec_matrix(pdf[vec_col]), Cn)
            return {
                "cid": [int(c_ids[ci]) for ci, _, _ in cells],
                "n": [n for _, n, _ in cells],
                "s": [sums.tolist() for _, _, sums in cells],
            }

        part = map_batches(emb, [vec_col], part_schema, fn)
        sums = part.groupBy("cid").agg(
            F.sum("n").alias("n"),
            *[F.sum(F.col("s")[i]).alias(f"s{i}") for i in range(dim)],
        )
        newcv = F.array(
            *[
                (F.col(f"s{i}") / F.col("n") / F.lit(_FP_SCALE))
                for i in range(dim)
            ]
        )
        cents = (
            cents.join(sums, "cid", "left")
            .select(
                "cid",
                F.when(F.col("n").isNull(), F.col("cv"))
                .otherwise(newcv)
                .alias("cv"),
            )
            .localCheckpoint()  # n_cells rows; breaks the per-round lineage
        )
    return cents


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    n_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k (inverted-file coarse quantizer, cf.
    Jégou et al. TPAMI'11): every corpus vector is assigned to its nearest
    of ``n_cells`` trained centroids; a query probes its ``nprobe`` nearest
    cells and exact-reranks only the vectors assigned there.

    The codebook is trained with ``n_rounds`` Lloyd's iterations from a
    seeded deterministic init (train_ivf_centroids, which picks its
    executor by input size) — reproducible and SQL-mirrorable end-to-end
    (q57's DuckDB oracle unrolls the same training rounds and hash-checks
    assignment, probe, and rerank, unlike the rows-only LSH path).
    ``n_rounds=0`` reproduces the raw seeded codebook.

    Scale shape: corpus assignment is the Arrow path (ivf_assign_arrow —
    one numpy matmul per batch, equality-tested against a struct-argmax
    reference on the trained codebook).  The candidate step is an equi join
    on cell id — corpus cost per query drops from O(N) to
    O(N * nprobe / n_cells)."""
    d = vectors(emb, id_col, vec_col)
    cents = train_ivf_centroids(emb, n_cells, n_rounds, id_col, vec_col)
    cent = cents.withColumn("cn", _norm(F.col("cv")))
    asg = ivf_assign_arrow(emb, cents, id_col, vec_col)
    q = d.filter(_query_filter(F.col("vid"), query_ids)).select(
        F.col("vid").alias("q_vec_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    qcos = cosine(F.col("qv"), F.col("qn"), F.col("cv"), F.col("cn"))
    wq = Window.partitionBy("q_vec_id").orderBy(F.desc("qcos"), F.asc("cid"))
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("qcos", qcos)
        .withColumn("rc", F.row_number().over(wq))
        .filter(F.col("rc") <= nprobe)
        .select("q_vec_id", "cid")
    )
    cand = (
        probe.join(asg, "cid")
        .filter(F.col("vid") != F.col("q_vec_id"))
        .select("q_vec_id", "vid")
    )
    rcos = cosine(F.col("qv"), F.col("qn"), F.col("v"), F.col("norm"))
    wr = Window.partitionBy("q_vec_id").orderBy(F.desc("cos"), F.asc("vid"))
    return (
        cand.join(d, "vid")
        .join(F.broadcast(q), "q_vec_id")
        .withColumn("cos", rcos)
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= k)
        .select("q_vec_id", F.col("vid").alias("neighbor_id"), "rk")
    )


def ivf_assign_arrow(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow fast path for the IVF assignment pass over a (cid, cv)
    codebook from train_ivf_centroids: centroids are collected once
    (n_cells rows, small by construction) and broadcast into a mapInPandas
    stage that computes all cell cosines with ONE numpy matmul per batch
    and takes the argmax (ties -> lowest cid, matching the struct-argmax
    ordering).  Returns (vid, cid) — ivf_topk's assignment path (same
    pattern as topk_bruteforce_arrow vs topk_bruteforce; equality-tested
    against a struct-argmax reference)."""
    c_ids, C = collect_matrix(centroids, "cid", "cv")
    Cn = unit_rows(C)

    out_schema = T.StructType(
        [T.StructField("vid", T.LongType()), T.StructField("cid", T.LongType())]
    )

    def fn(pdf):
        ids, V = rows_matrix(pdf[id_col], pdf[vec_col])
        return {"vid": ids, "cid": c_ids[_nearest(V, Cn)]}

    return map_batches(emb, [id_col, vec_col], out_schema, fn)
