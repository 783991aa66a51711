"""Similarity search over embedding columns: exact top-k, sign-bucketed
IVF top-k, and learned (k-means) buckets.

* ``brute_force_topk`` — exact: broadcast the (small) query set against the
  candidate table, JVM higher-order dot products, per-query window top-k.
  This is the ground truth and right up to ~10^7 candidates × few queries
  (the catalog's ``ann_cosine_topk``).
* ``ivf_signbucket_topk`` — the bucketed path (the catalog's
  ``ann_ivf_bucketed``): candidates bucket by a 4-bit sign code, each query
  multi-probes its own bucket plus the hamming-1 neighbours, so the pair
  stage scores ~5/16 of the corpus. Recall is measured against
  ``brute_force_topk``, not claimed.
* ``kmeans_bucket_assign`` — data-adaptive buckets for corpora a fixed sign
  code cannot split (the catalog's ``dedup_embedding_ivf``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col: str) -> F.Column:
    return F.expr(f"transform({col}, x -> cast(x AS double))")


def _norm(col: str) -> F.Column:
    return F.sqrt(F.expr(f"aggregate({col}, 0D, (acc, x) -> acc + x * x)"))


def _dot(a: str, b: str) -> F.Column:
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")


def _topk(pairs: DataFrame, k: int) -> DataFrame:
    """Cosine-scored per-query top-k of (query_id, qv, qn) × (neighbor_id,
    cv, cn) pairs; ties break on the smaller neighbor_id."""
    scored = pairs.withColumn("cosine", _dot("qv", "cv") / (F.col("qn") * F.col("cn")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def brute_force_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, rank, neighbor_id, cosine)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qn", _norm("qv"))
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cn", _norm("cv"))
    return _topk(F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id")), k)


def ivf_signbucket_topk(emb: DataFrame, query_pred: Column, k: int = 3) -> DataFrame:
    """Sign-bucketed cosine top-k: (query_id, rank, neighbor_id, cosine).

    Rows of ``emb`` (``vec_id``, ``embedding``) matching ``query_pred`` are
    the queries, the rest the candidates. Bucket = 4-bit sign code over the
    first four dimensions (float sign is exact in any engine). Candidates
    shuffle once on bucket;
    each query probes its own bucket plus the four hamming-1 neighbours (an
    aligned dimension near zero is exactly when its sign bit is noisy).
    Probe buckets are distinct per query, so no pair is scored twice.
    """
    v = emb.withColumn("_vd", _as_double("embedding"))
    bucket = sum((F.col("_vd")[i] > 0).cast("int") * (1 << i) for i in range(4))
    v = v.withColumn("_bucket", bucket).withColumn("_nrm", _norm("_vd"))
    q = v.filter(query_pred).select(
        F.col("vec_id").alias("query_id"), F.col("_vd").alias("qv"),
        F.col("_nrm").alias("qn"),
        F.explode(F.array(*[
            F.col("_bucket").bitwiseXOR(F.lit(m)) for m in (0, 1, 2, 4, 8)
        ])).alias("bucket"))
    c = v.filter(~query_pred).select(
        F.col("vec_id").alias("neighbor_id"), F.col("_vd").alias("cv"),
        F.col("_nrm").alias("cn"), F.col("_bucket").alias("bucket"))
    return _topk(F.broadcast(q).join(c, "bucket"), k)


def kmeans_bucket_assign(
    emb: DataFrame, k: int = 16, quant: int = 1000,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Data-adaptive IVF buckets: one deterministic Lloyd step of k-means.

    A fixed sign sketch assumes uncorrelated dimensions — on real
    (anisotropic) embeddings whole quadrants can be empty while one bucket
    holds most of the corpus. Learned centroids follow the data instead:

    1. quantize each vector to integer milli-units (``floor(x·quant+0.5)``
       — exact and identical in any engine, the fixed-point discipline all
       cross-engine oracles here use);
    2. seed centroids = the ``k`` vectors with the smallest ``id_col``
       (a distributed ``TakeOrdered`` — O(k) driver bytes at any scale);
    3. assign each vector to its nearest seed by *integer* squared L2
       (broadcast join on k rows, zip_with fold — exact, order-free);
    4. recompute centroids as per-cluster integer sums + counts (exact:
       no float mean, so no summation-order divergence);
    5. re-assign to the nearest updated centroid comparing
       ``Σ(cnt·x − sum)² / cnt²`` — the integer numerator is exact and the
       single double division is IEEE-identical everywhere; ties break on
       cluster id.

    Returns the input columns + ``bucket``. More Lloyd steps = repeat 4-5
    (each is one small exchange over (cluster, dim) cells + a broadcast);
    one step already adapts occupancy to the data, which is what the
    bucket-equi-join pair stage needs. Scale shape: the corpus never
    shuffles — steps 3/5 broadcast k centroid rows, step 4 exchanges only
    k·dim aggregation cells.
    """
    xq = F.expr(
        f"transform({vec_col}, x -> cast(floor(cast(x AS double) * {quant}"
        " + 0.5d) AS bigint))")
    v = emb.withColumn("_xq", xq)

    # orderBy(id).limit(k) fixes WHICH rows seed; number them by id order
    seeds = (
        v.orderBy(id_col).limit(k)
        .select(F.col(id_col).alias("_sid"), F.col("_xq").alias("_sq"))
        .withColumn("_cl", F.row_number().over(Window.orderBy("_sid")) - 1)
        .select("_cl", "_sq")
    )

    d_int = F.expr(
        "aggregate(zip_with(_xq, _sq, (x, s) -> (x - s) * (x - s)), "
        "0L, (acc, t) -> acc + t)")
    assign1 = (
        v.crossJoin(F.broadcast(seeds))
        .withColumn("_d", d_int)
        .withColumn("_r", F.row_number().over(
            Window.partitionBy(id_col).orderBy("_d", "_cl")))
        .filter(F.col("_r") == 1)
        .select(id_col, "_xq", "_cl")
    )

    cells = (
        assign1.select(id_col, "_cl", F.posexplode("_xq").alias("_dim", "_x"))
        .groupBy("_cl", "_dim")
        .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_n"))
    )
    centroids = (
        cells.groupBy("_cl")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(_dim, _s))), "
                   "t -> t._s)").alias("_sum"),
            F.first("_n").alias("_cnt"),
        )
    )

    d2_int = F.expr(
        "aggregate(zip_with(_xq, _sum, (x, s) -> (_cnt * x - s) * (_cnt * x - s)), "
        "0L, (acc, t) -> acc + t)")
    return (
        v.crossJoin(F.broadcast(centroids))
        .withColumn("_d", d2_int.cast("double") / (F.col("_cnt") * F.col("_cnt")).cast("double"))
        .withColumn("_r", F.row_number().over(
            Window.partitionBy(id_col).orderBy("_d", "_cl")))
        .filter(F.col("_r") == 1)
        .select(*emb.columns, F.col("_cl").alias("bucket"))
    )
