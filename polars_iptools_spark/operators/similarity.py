"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the exact baseline: broadcast the (small)
query set, compute dot products with JVM higher-order functions
(zip_with + aggregate — no Python workers), rank per query with a
window.  The scale path is LSH bucketing with random hyperplanes: the
hyperplane matrix is deterministic (seeded) and tiny, shipped as column
literals, so bucketing also stays JVM-side; only candidates within a
bucket get exact-scored.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions._par import pinned_partitions


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def unit(a: Column) -> Column:
    """L2-normalized copy of the vector (cast to double).  Normalizing
    each vector ONCE turns every later cosine into a plain dot product
    — at web scale the corpus is normalized at ingest, never per pair."""
    n = norm(F.transform(a, lambda x: x.cast("double")))
    return F.transform(a, lambda x: x.cast("double") / n)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries``: (query_id, embedding).  The query side is broadcast —
    at 100 TB the corpus never shuffles; each partition scans once.
    """
    # Norms are hoisted out of the pair stream (r07): cosine(a, b)
    # recomputed norm(a) per QUERY and norm(b) per CORPUS ROW — N*Q
    # array folds for N*Q pairs.  Materializing each side's norm once
    # (N + Q folds) and dividing dot/(na*nb) evaluates the exact same
    # expressions in the same order, so the doubles are bit-identical
    # to cosine() — only the evaluation count changes.
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        norm(F.col(vec_col)).alias("_qn"),
    )
    corp = embeddings.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("_n")
    )
    scored = corp.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        (dot(F.col(vec_col), F.col("_qvec")) / (F.col("_n") * F.col("_qn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_buckets_banded(
    vec: Column, dim: int, n_tables: int = 8, n_planes: int = 12, seed: int = 7
) -> Column:
    """``n_tables`` independent hyperplane-LSH bucket ids per vector
    (array<long>), computed with ONE BLAS matmul per Arrow batch: the
    full (n_tables * n_planes, dim) plane matrix multiplies the batch
    once, sign bits pack per table.

    This is the AND-OR construction: p_table = (1 - theta/pi)^n_planes,
    recall = 1 - (1 - p_table)^n_tables — banding buys back the recall
    a single table loses exponentially in plane count.  A 0.95-cosine
    pair at the defaults (8x12) collides with probability ~0.93 vs
    ~0.28 for one 12-plane table."""
    from pyspark.sql.types import ArrayType, LongType

    planes = _hyperplanes(dim, n_tables * n_planes, seed)  # (T*P, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.arrow_udf(ArrayType(LongType()))
    def _buckets_udf(v: pa.Array) -> pa.Array:
        M = _matrix(v)  # (n, dim)
        bits = (M @ planes.T) >= 0  # (n, T*P)
        packed = bits.reshape(len(M), n_tables, n_planes) @ weights  # (n, T)
        return _lists(packed.astype(np.int64))

    return _buckets_udf(vec)


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantization: deterministic centroids (hash-sampled
    rows, one refinement sweep driver-side), assignment via one
    vectorized numpy matmul per Arrow batch.

    Returns (embeddings + ``centroid`` column, centroid matrix).  The
    centroid matrix is tiny and broadcast by closure; at 100 TB the
    corpus is scanned once, shuffle-free."""
    from pyspark.sql.types import IntegerType

    # deterministic sample: smallest xxhash64 of the id -> ~3x centroids
    sample = (
        embeddings.select(id_col, vec_col, F.xxhash64(id_col).alias("_h"))
        .orderBy("_h")
        .limit(n_centroids * 3)
        .collect()
    )
    X = np.array([r[vec_col] for r in sample], dtype=np.float64)
    cents = X[:n_centroids].copy()
    # one Lloyd sweep over the sample for spread
    for _ in range(2):
        sims = _normalize(X) @ _normalize(cents).T
        assign = sims.argmax(axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    cents_n = _normalize(cents)

    @F.arrow_udf(IntegerType())
    def _assign_udf(v: pa.Array) -> pa.Array:
        sims = _normalize(_matrix(v)) @ cents_n.T
        return pa.array(sims.argmax(axis=1).astype(np.int32))

    return embeddings.withColumn("centroid", _assign_udf(F.col(vec_col))), cents


def _matrix(v: pa.Array) -> np.ndarray:
    """Batch of equal-length vectors -> (n, dim) float64 matrix."""
    flat = v.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(len(v), -1)


def _lists(M: np.ndarray) -> pa.Array:
    """(n, k) matrix -> list array of its rows."""
    offsets = np.arange(0, M.size + 1, M.shape[1], dtype=np.int32)
    return pa.ListArray.from_arrays(offsets, M.ravel())


def _normalize(M: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(M, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return M / n


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 13,
) -> DataFrame:
    """Approximate top-k: probe only the ``n_probe`` centroids nearest
    each query — the IVF scale path (scan cost drops to
    n_probe/n_centroids of brute force; recall governed by n_probe).

    Probe assignment is computed DISTRIBUTED (the same numpy-matmul
    Arrow UDF as :func:`ivf_assign`, top-``n_probe`` per query via
    explode) — the query table is never collected to the driver.  The
    probe->centroid join broadcasts the probe side."""
    from pyspark.sql.types import ArrayType, IntegerType

    assigned, cents = ivf_assign(embeddings, n_centroids, id_col, vec_col, seed)
    cents_n = _normalize(cents)

    @F.arrow_udf(ArrayType(IntegerType()))
    def _probes_udf(v: pa.Array) -> pa.Array:
        sims = _normalize(_matrix(v)) @ cents_n.T
        return _lists(np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32))

    # same norm hoist as brute_force_topk (r07): dot/(na*nb) over
    # per-row materialized norms is bit-identical to cosine() while
    # dropping the per-pair norm folds from the probe join's output
    probes = queries.select(
        F.col(query_id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_qvec"),
        norm(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias("_qn"),
        F.explode(_probes_udf(F.col(vec_col))).alias("centroid"),
    )
    probes = F.broadcast(probes)
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scored = assigned.withColumn("_n", norm(dvec)).join(probes, "centroid").select(
        F.col(query_id_col),
        F.col(id_col),
        (
            dot(
                F.transform(F.col(vec_col), lambda x: x.cast("double")),
                F.col("_qvec"),
            )
            / (F.col("_n") * F.col("_qn"))
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def lsh_near_duplicates(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_tables: int = 8,
    n_planes: int = 12,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded multi-table hyperplane
    LSH candidate generation (OR over ``n_tables`` tables — see
    :func:`lsh_buckets_banded`), oversized-bucket skew guard, then exact
    cosine verification of in-bucket candidates only.

    Tune (n_tables, n_planes) to the threshold: high thresholds keep
    the 8x12 defaults; looser thresholds need fewer planes and more
    tables (e.g. 16x6 for ~0.3).
    """
    from .dedup import _bucket_pairs

    b = embeddings.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            lsh_buckets_banded(F.col(vec_col), dim, n_tables, n_planes, seed)
        ).alias("band", "bucket"),
    )
    # _bucket_pairs reads the (doc, band, bucket) frame once, so the
    # hyperplane-matmul Arrow UDF runs once; the vector column is
    # projected OUT before the explode so that the guard's exchange
    # carries 24 bytes/row, not the embedding.
    # shuffle_pairs pins the candidate partitioning so the per-pair JVM
    # dot below runs at full cluster parallelism instead of on the ~1
    # task AQE's byte-based coalescing would leave for this byte-small,
    # compute-heavy stream (guide §2.5).
    cand = _bucket_pairs(
        b, max_bucket_size, shuffle_pairs=pinned_partitions(embeddings)
    ).withColumnsRenamed({"doc_a": "id_a", "doc_b": "id_b"})
    # normalize each vector ONCE (n rows), so per-candidate exact
    # verification is a single dot product — the naive per-pair
    # cosine() recomputes BOTH norms per candidate, tripling the JVM
    # higher-order-function work on the quadratic-ish candidate stream
    vecs = embeddings.select(F.col(id_col), unit(F.col(vec_col)).alias("_nv"))
    return (
        cand.join(
            vecs.select(F.col(id_col).alias("id_a"), F.col("_nv").alias("vec_a")),
            "id_a",
        )
        .join(
            vecs.select(F.col(id_col).alias("id_b"), F.col("_nv").alias("vec_b")),
            "id_b",
        )
        .withColumn("cosine", dot(F.col("vec_a"), F.col("vec_b")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
