"""ANN operators: brute-force exactness + bucketed recall against it."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.operators.similarity import brute_force_topk, ivf_signbucket_topk


def test_brute_force_matches_duckdb_shape(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    res = brute_force_topk(q, emb, k=3)
    rows = res.collect()
    assert len(rows) == 5 * 3
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == [1, 2, 3]
        cosines = [r["cosine"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["neighbor_id"] != qid for r in rs)


def _planted_corpus(spark, n_clusters=20, per_cluster=25, dim=32, noise=0.15):
    """Clustered vectors: true neighbors have high cosine (the regime
    bucketed ANN is for) — testdata embeddings are near-random, where no
    sublinear ANN can beat the probed fraction."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((n_clusters, dim))
    rows = []
    vid = 0
    for ci in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[ci] + noise * rng.standard_normal(dim)
            rows.append({"vec_id": vid, "embedding": [float(x) for x in v], "label": ci})
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_catalog_ivf_multiprobe_recall(spark):
    """The catalog `ann_ivf_bucketed` shape (4-bit sign code over the first
    four dims, hamming-1 multi-probe — r3 advice item #7) on the planted
    corpus: one sign bit flipping under noise is exactly the case the
    hamming-1 probes recover, so recall vs brute-force top-3 must be high
    while only ~5/16 of the corpus is scored."""
    emb = _planted_corpus(spark)
    q = emb.filter(F.col("vec_id") % 25 == 0)
    truth = brute_force_topk(q, emb.join(q, "vec_id", "left_anti"), k=3)
    approx = ivf_signbucket_topk(emb, F.col("vec_id") % 25 == 0, k=3)

    t = {(r["query_id"], r["neighbor_id"]) for r in truth.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(t & a) / len(t)
    assert recall >= 0.85, f"catalog IVF multi-probe recall too low: {recall:.2f}"


def _anisotropic_corpus(spark, n=400, dim=16):
    """A corpus a fixed sign sketch cannot bucket: every dimension is
    strictly positive (think post-ReLU or L2-normalized-nonneg features),
    so all 2^8 sign-quadrant buckets except one are EMPTY."""
    import numpy as np

    rng = np.random.default_rng(23)
    centers = np.abs(rng.standard_normal((8, dim))) + 0.2
    rows = []
    for i in range(n):
        v = centers[i % 8] + 0.1 * np.abs(rng.standard_normal(dim))
        rows.append({"vec_id": i, "embedding": [float(x) for x in v]})
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_buckets_balance_anisotropic_corpus(spark):
    """r4 verdict #4: on an anisotropic (all-positive) corpus the fixed
    sign sketch collapses to ONE bucket; the learned-centroid assignment
    must spread occupancy so the pair equi-join has no single hot bucket."""
    from crawler_spark.operators.similarity import kmeans_bucket_assign

    emb = _anisotropic_corpus(spark)
    n = emb.count()

    sign_bucket = sum(
        (F.expr(f"cast(embedding[{i}] AS double)") > 0).cast("int") * (1 << i)
        for i in range(8))
    sign_occ = [r["c"] for r in emb.withColumn("b", sign_bucket)
                .groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect()]
    assert max(sign_occ) == n, "corpus should defeat the sign sketch"

    km = kmeans_bucket_assign(emb, k=8)
    occ = {r["bucket"]: r["c"] for r in km.groupBy("bucket")
           .agg(F.count(F.lit(1)).alias("c")).collect()}
    assert sum(occ.values()) == n, "assignment must be a partition"
    assert len(occ) >= 4, f"learned buckets collapsed: histogram {occ}"
    assert max(occ.values()) <= 0.5 * n, (
        f"hot learned bucket: histogram {occ} (sign sketch: one bucket of {n})")


def test_kmeans_bucket_assign_is_deterministic_and_dup_consistent(spark):
    """Identical vectors must land in identical buckets (duplicate recall 1
    by construction for `dedup_embedding_ivf`), and re-running the plan
    must reproduce the assignment bit-for-bit (no RNG, no float means)."""
    from crawler_spark.operators.similarity import kmeans_bucket_assign

    emb = _planted_corpus(spark, n_clusters=6, per_cluster=10)
    doubled = emb.select("vec_id", "embedding").unionByName(
        emb.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding"))
    got = {r["vec_id"]: r["bucket"]
           for r in kmeans_bucket_assign(doubled, k=8).collect()}
    for vid in range(60):
        assert got[vid] == got[vid + 1000], f"copy of {vid} split buckets"
    again = {r["vec_id"]: r["bucket"]
             for r in kmeans_bucket_assign(doubled, k=8).collect()}
    assert got == again
