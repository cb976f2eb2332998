"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, plus an LSH-bucketed
(random hyperplane / SRP) variant as the scale path: at 100 TB the
brute-force plan is a broadcast of the query set + a full scan (fine for
few queries), while the LSH path prunes the scan to matching buckets.

All vector math stays JVM-side (``zip_with``/``aggregate`` higher-order
functions) — no Python in the hot loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, IntegerType


# --- Arrow/numpy kernels (optimization round 6, guide §4.2) -----------------
# Spark's higher-order functions (zip_with/aggregate) are CodegenFallback:
# every element of every vector costs an interpreted lambda call, so a
# 64-dim dot product is ~128 virtual dispatches. The same math as one
# numpy matrix-vector product over an Arrow batch is orders of magnitude
# cheaper per row; only the vector column crosses the Python boundary.
# Same formula, float64 throughout — quantized outputs (1e-4) absorb the
# summation-order ULPs exactly as they do between the JVM and DuckDB.


def _stack_masked(
    s: pd.Series, dim: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(matrix, valid): rows that are None or whose length differs from
    ``dim`` (default: the batch's modal length) are zero-filled and
    masked invalid — preserving the JVM ``zip_with``/``aggregate``
    kernels' null semantics (null/ragged vec → null dot product, 0 sign
    bits) in the Arrow twins (optimization round 6 review: ``np.stack``
    raised on such rows where the old expressions returned NULL)."""
    vals = [None if v is None else np.asarray(v, dtype=np.float64) for v in s]
    if dim is None:
        lens: dict[int, int] = {}
        for v in vals:
            if v is not None:
                lens[v.shape[0]] = lens.get(v.shape[0], 0) + 1
        dim = max(lens, key=lambda k: (lens[k], -k)) if lens else 1
    m = np.zeros((len(vals), dim), dtype=np.float64)
    valid = np.zeros(len(vals), dtype=bool)
    for i, v in enumerate(vals):
        if v is not None and v.shape[0] == dim:
            m[i] = v
            valid[i] = True
    return m, valid


def cos_vs_query_udf(q: np.ndarray):
    """pandas_udf: cosine(vec, q) with q fixed — dot/(|vec||q|); NULL for
    null/ragged vectors (the JVM twin's semantics)."""
    qd = np.asarray(q, dtype=np.float64)
    qn = float(np.sqrt(qd @ qd))

    @pandas_udf(DoubleType())
    def _cos(vs: pd.Series) -> pd.Series:
        m, valid = _stack_masked(vs, qd.shape[0])
        with np.errstate(all="ignore"):
            num = m @ qd
            den = np.sqrt(np.einsum("ij,ij->i", m, m)) * qn
            cos = num / den
        return pd.Series(pd.arrays.FloatingArray(cos, ~valid))

    return _cos


@pandas_udf(DoubleType())
def cos_pair_udf(va: pd.Series, vb: pd.Series) -> pd.Series:
    """pandas_udf: cosine(va, vb) element-wise over two vector columns.
    NULL when either side is null or the lengths differ (zip_with pads
    with nulls → null dot in the JVM twin). Pairs are grouped by their
    shared length and each group is reduced by one batched ``einsum``, so
    a pair's cosine does not depend on the other pairs in its batch."""
    a_vals = [None if v is None else np.asarray(v, np.float64) for v in va]
    b_vals = [None if v is None else np.asarray(v, np.float64) for v in vb]
    out = np.full(len(a_vals), np.nan)
    missing = np.ones(len(a_vals), dtype=bool)
    by_len: dict[int, list[int]] = {}
    for i, (u, w) in enumerate(zip(a_vals, b_vals)):
        if u is not None and w is not None and u.shape[0] == w.shape[0]:
            by_len.setdefault(u.shape[0], []).append(i)
    for idx in by_len.values():
        a = np.stack([a_vals[i] for i in idx])
        b = np.stack([b_vals[i] for i in idx])
        with np.errstate(all="ignore"):
            out[idx] = np.einsum("ij,ij->i", a, b) / (
                np.sqrt(np.einsum("ij,ij->i", a, a))
                * np.sqrt(np.einsum("ij,ij->i", b, b))
            )
        missing[idx] = False
    return pd.Series(pd.arrays.FloatingArray(out, missing))


def srp_bucket_udf(planes: np.ndarray):
    """pandas_udf twin of :func:`srp_bucket_expr`: sign bits of <v, plane_i>
    packed little-endian into an int bucket id. A null/ragged vector gets
    bucket 0 — exactly what the JVM expression computes (null dot → the
    ``otherwise(0)`` branch for every bit)."""
    pt = np.ascontiguousarray(np.asarray(planes, dtype=np.float64).T)
    pows = (1 << np.arange(planes.shape[0], dtype=np.int64))

    @pandas_udf(IntegerType())
    def _bucket(vs: pd.Series) -> pd.Series:
        m, valid = _stack_masked(vs, pt.shape[0])
        bits = (m @ pt) > 0
        out = (bits @ pows).astype(np.int64)
        out[~valid] = 0
        return pd.Series(out.astype(np.int32))

    return _bucket


def cosine_topk_brute(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors of one stored vector (excluding itself).

    Output: (vec_id bigint, rank int, cos_mil bigint) — cosine quantized to
    1e-4 so cross-engine float-sum ordering can't flip the value hash.
    """
    q = emb.where(F.col(id_col) == query_vec_id).select(F.col(vec_col).alias("qvec"))
    joined = emb.where(F.col(id_col) != query_vec_id).crossJoin(F.broadcast(q))
    cos = cos_pair_udf(F.col(vec_col), F.col("qvec"))
    ranked = (
        joined.withColumn("cos", cos)
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
        .select(
            F.col(id_col).cast("bigint").alias("vec_id"),
            F.row_number()
            .over(Window.orderBy(F.desc("cos"), F.asc(id_col)))
            .cast("int")
            .alias("rank"),
            F.floor(F.col("cos") * 1e4 + F.lit(0.5)).cast("bigint").alias("cos_mil"),
        )
    )
    return ranked


def build_ivf(
    emb: DataFrame,
    n_centroids: int = 16,
    seed: int = 13,
    vec_col: str = "embedding",
):
    """IVF coarse quantizer: k-means centroids + per-row cell assignment.

    At scale the assigned table is written partitioned by ``centroid`` so
    a query scans only its probed cells (same pruning idea as the term
    buckets on the text side). Returns (model, assigned_df)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    withv = emb.withColumn(
        "_v", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = KMeans(k=n_centroids, seed=seed, featuresCol="_v", predictionCol="centroid").fit(
        withv
    )
    assigned = model.transform(withv).drop("_v")
    return model, assigned


def write_ivf_index(
    emb: DataFrame,
    out_dir: str,
    n_centroids: int = 16,
    seed: int = 13,
    vec_col: str = "embedding",
) -> str:
    """Fit the IVF coarse quantizer ONCE and persist it: centroids as a
    tiny parquet table, vectors partitioned by assigned centroid
    (``assigned/centroid=*/``). Queries then read centers (driver-side),
    pick probe cells, and scan ONLY those partitions — the k-means fit is
    never repeated per query (VERDICT r02 item 8)."""
    model, assigned = build_ivf(emb, n_centroids, seed, vec_col)
    spark = emb.sparkSession
    rows = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    spark.createDataFrame(rows, "centroid int, center array<double>").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/centroids")
    assigned.write.mode("overwrite").partitionBy("centroid").parquet(
        f"{out_dir}/assigned"
    )
    return out_dir


# centers are a tiny constant table per persisted index — mtime-cached
# like the dictionary/stats caches (optimization round 6 batch 3): a warm
# driver resolves probe cells with zero jobs, any index rewrite bumps the
# signature
_IVF_CENTERS_CACHE: dict[str, tuple[tuple, np.ndarray]] = {}


def read_ivf_centers(spark, ivf_dir: str) -> np.ndarray:
    from find_that_charity_spark.operators.query import (
        _local_mtime_key,
        cached_parquet,
    )

    path = f"{ivf_dir}/centroids"
    key = _local_mtime_key(path)
    if key is not None:
        hit = _IVF_CENTERS_CACHE.get(ivf_dir)
        if hit is not None and hit[0] == key:
            return hit[1]
    rows = cached_parquet(spark, path).collect()
    out = np.array(
        [r["center"] for r in sorted(rows, key=lambda r: r["centroid"])],
        dtype=np.float64,
    )
    if key is not None:
        _IVF_CENTERS_CACHE[ivf_dir] = (key, out)
    return out


def ivf_cosine_topk_indexed(
    spark,
    ivf_dir: str,
    query_vec: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """IVF search against a persisted index: centers resolve driver-side,
    and the ``centroid IN (probes)`` filter is a partition filter on the
    assigned table — unprobed cells are never read."""
    from find_that_charity_spark.operators.query import cached_parquet

    centers = read_ivf_centers(spark, ivf_dir)
    assigned = cached_parquet(spark, f"{ivf_dir}/assigned")
    return ivf_cosine_topk(
        centers, assigned, query_vec, k, nprobe, id_col, vec_col, exclude_id
    )


def ivf_cosine_topk(
    model,
    assigned: DataFrame,
    query_vec: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """IVF search: probe the ``nprobe`` nearest centroids' cells only,
    exact cosine within them. nprobe = n_centroids degenerates to exact
    brute force (used to sanity-check recall). ``model`` is a fitted
    KMeansModel or a plain (n_centroids, dim) centers array (the
    persisted-index path)."""
    centers = (
        np.array(model.clusterCenters())
        if hasattr(model, "clusterCenters")
        else np.asarray(model, dtype=np.float64)
    )
    q = np.asarray(query_vec, dtype=np.float64)
    d = centers - q
    order = np.argsort((d * d).sum(axis=1))
    probes = [int(c) for c in order[:nprobe]]

    cand = assigned.where(F.col("centroid").isin(probes))
    if exclude_id is not None:
        cand = cand.where(F.col(id_col) != exclude_id)
    cos = cos_vs_query_udf(q)(F.col(vec_col))
    return (
        cand.withColumn("cos", cos)
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
        .select(
            F.col(id_col).cast("bigint").alias("vec_id"),
            F.row_number()
            .over(Window.orderBy(F.desc("cos"), F.asc(id_col)))
            .cast("int")
            .alias("rank"),
            F.floor(F.col("cos") * 1e4 + F.lit(0.5)).cast("bigint").alias("cos_mil"),
        )
    )


def srp_bucket_expr(vec_col: str, planes: np.ndarray) -> Column:
    """Signed-random-projection bucket id: sign bits of <v, plane_i>.

    ``planes`` is (n_bits, dim) — deterministic (seeded) hyperplanes. The
    expression is pure Column math (JVM) — each bit is a dot-product sign.
    """
    bit_cols = [
        F.when(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(float(x)) for x in plane]),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        for i, plane in enumerate(planes)
    ]
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 13,
    probe_radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the vector member of the
    dedup family, next to MinHash/SimHash on the text side).

    Scale path: every vector gets an SRP bucket; the left side multi-probe
    expands to buckets within hamming ``probe_radius`` and candidates come
    from an equi-join on bucket — never an all-pairs cross join. Exact
    cosine verifies each candidate. ``probe_radius = n_bits`` probes every
    bucket and degenerates to exact all-pairs through the same machinery —
    the correctness-gate setting (brute-force SQL oracle applies); partial
    -probe recall is pytest-covered.

    Output: (id_a, id_b, cos_mil) with id_a < id_b, cosine >= threshold,
    quantized to 1e-4.
    """
    from itertools import combinations

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits, dim))
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # shuffle keys, not payloads (guide §2.3/§8 and §3.3 "explode before a
    # join multiplies the shuffle" — optimization round 6 batch 3): the
    # old plan exploded every row |masks| ways WITH its vector and ran
    # dedup over (id_a, id_b, va, vb) — at full probe that shuffled the
    # 64-double payload ~2·|masks| times per surviving pair (measured
    # 16.5 s at sf0.01). Now the multi-probe explode, bucket equi-join
    # and pair dedup run over (id, bucket) INTS only; vectors attach once
    # per deduped pair by a join back to the base table, then the exact
    # cosine verify runs as before. Same candidate set, same scores.
    bucketed = base.select(
        "id", srp_bucket_udf(planes)("vec").alias("bucket")
    )
    masks = [0] + [
        sum(1 << b for b in bits)
        for r in range(1, probe_radius + 1)
        for bits in combinations(range(n_bits), r)
    ]
    masks_arr = F.lit([int(m) for m in masks])  # ONE array literal (plan-build cost)
    left = bucketed.select(
        "id",
        F.explode(
            F.transform(masks_arr, lambda m: F.col("bucket").bitwiseXOR(m))
        ).alias("bucket"),
    )
    cand_ids = (
        left.alias("l")
        .join(
            bucketed.alias("r"),
            (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = (
        cand_ids.join(base.select(F.col("id").alias("id_a"), F.col("vec").alias("va")), "id_a")
        .join(base.select(F.col("id").alias("id_b"), F.col("vec").alias("vb")), "id_b")
    )
    cos = cos_pair_udf(F.col("va"), F.col("vb"))
    return (
        cand.withColumn("cos", cos)
        .where(F.col("cos") >= threshold)
        .select(
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            F.floor(F.col("cos") * 1e4 + F.lit(0.5)).cast("bigint").alias("cos_mil"),
        )
    )


# sentinel for "not a candidate": strictly below the cosine range, so the
# filter `cos > _LSH_MISS_FILTER` drops exactly the out-of-ball rows while
# a degenerate-vector NaN cosine keeps the same (Spark NaN-is-greatest)
# ordering behavior the two-pass plan had
_LSH_MISS = -2.0
_LSH_MISS_FILTER = -1.5


def srp_probe_cos_udf(planes: np.ndarray, probe_buckets: set[int], q: np.ndarray):
    """pandas_udf fusing the LSH candidate test with the cosine verify:
    cosine(vec, q) when the vector's SRP bucket is in ``probe_buckets``,
    the ``_LSH_MISS`` sentinel otherwise. One Arrow transfer of the
    vector column replaces the two separate passes (bucket UDF + cosine
    UDF) the old plan ran (optimization round 6 batch 3, guide §4.1: you
    control how many columns cross the boundary — and how many times)."""
    pt = np.ascontiguousarray(np.asarray(planes, dtype=np.float64).T)
    pows = 1 << np.arange(planes.shape[0], dtype=np.int64)
    probe_all = len(probe_buckets) >= (1 << planes.shape[0])
    probes = np.array(sorted(probe_buckets), dtype=np.int64)
    qd = np.asarray(q, dtype=np.float64)
    qn = float(np.sqrt(qd @ qd))

    @pandas_udf(DoubleType())
    def _probe_cos(vs: pd.Series) -> pd.Series:
        m, valid = _stack_masked(vs, qd.shape[0])
        with np.errstate(all="ignore"):
            num = m @ qd
            den = np.sqrt(np.einsum("ij,ij->i", m, m)) * qn
            cos = num / den
        if not probe_all:
            buckets = (((m @ pt) > 0) @ pows).astype(np.int64)
            buckets[~valid] = 0  # JVM twin: null dot -> all-zero sign bits
            cos = np.where(np.isin(buckets, probes), cos, _LSH_MISS)
        # null/ragged vectors yield a NULL cosine (dropped by the miss
        # filter — they can never enter a top-k either way)
        return pd.Series(pd.arrays.FloatingArray(cos, ~valid))

    return _probe_cos


def cosine_topk_lsh(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 13,
    probe_radius: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: SRP-bucket the corpus, search the query's
    bucket plus all buckets within hamming ``probe_radius`` (multi-probe).

    At scale the bucket column is a partition/cluster key, so the search
    reads a small slice of the corpus instead of scanning everything;
    radius trades recall for scanned fraction (r=2 of 8 bits ~ 14%).

    Plan (optimization round 6 batch 3): the query row resolves with one
    pushed point-filter collect, its probe-bucket ball is enumerated in
    numpy driver-side, and ONE fused Arrow UDF computes bucket-membership
    + cosine per candidate — the old plan built 257 literal XOR columns
    (measured ~1 s of driver plan construction), ran the bucket UDF over
    the corpus TWICE (once under the broadcast subtree, once for
    candidates) and shipped the vector column across the Python boundary
    twice. Candidate set and scores are unchanged: membership in the
    hamming ball of the query's bucket is symmetric under XOR.
    """
    from itertools import combinations

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits, dim))
    qrow = emb.where(F.col(id_col) == query_vec_id).select(vec_col).collect()
    if not qrow or qrow[0][0] is None:
        return emb.sparkSession.createDataFrame(
            [], "vec_id bigint, rank int, cos_mil bigint"
        )
    q = np.asarray(qrow[0][0], dtype=np.float64)
    q_bucket = int((((planes @ q) > 0) @ (1 << np.arange(n_bits, dtype=np.int64))))
    masks = [0] + [
        sum(1 << b for b in bits)
        for r in range(1, probe_radius + 1)
        for bits in combinations(range(n_bits), r)
    ]
    probe_buckets = {q_bucket ^ m for m in masks}
    cos = srp_probe_cos_udf(planes, probe_buckets, q)(F.col(vec_col))
    return (
        emb.where(F.col(id_col) != query_vec_id)
        .withColumn("cos", cos)
        .where(F.col("cos") > F.lit(_LSH_MISS_FILTER))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
        .select(
            F.col(id_col).cast("bigint").alias("vec_id"),
            F.row_number().over(Window.orderBy(F.desc("cos"), F.asc(id_col))).cast("int").alias("rank"),
            F.floor(F.col("cos") * 1e4 + F.lit(0.5)).cast("bigint").alias("cos_mil"),
        )
    )
