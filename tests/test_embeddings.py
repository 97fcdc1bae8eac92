import math

from pyspark.sql import functions as F

from rlr_spark.functions.embeddings import brute_force_topk, cosine


def test_cosine(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    rows = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()
    assert math.isclose(rows[0].c, 1.0, abs_tol=1e-12)
    assert math.isclose(rows[1].c, 0.0, abs_tol=1e-12)
    assert math.isclose(rows[2].c, 1.0, abs_tol=1e-12)


def _corpus(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    for i in range(200):
        v = rng.randn(8)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk_exact(spark):
    corpus = _corpus(spark)
    queries = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(corpus, queries, k=5)
    rows = out.collect()
    assert len(rows) == 15
    # rank 1 of each query is the query itself (cos=1)
    top1 = {r.query_id: r for r in rows if r.rank == 1}
    for qid, r in top1.items():
        assert r.vec_id == qid and math.isclose(r.cos_sim, 1.0, abs_tol=1e-9)


def test_ivf_topk(spark):
    from rlr_spark.functions.embeddings import ivf_topk, train_ivf_centroids

    corpus = _corpus(spark)
    centroids = train_ivf_centroids(corpus, k=8, n_iter=2)
    assert len(centroids) == 8 and len(centroids[0]) == 8
    # deterministic: same call, same centroids
    again = train_ivf_centroids(corpus, k=8, n_iter=2)
    assert centroids == again

    queries = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(corpus, queries, centroids, k=5, n_probe=3).collect()
    top1 = {r.query_id: r for r in out if r.rank == 1}
    for qid, r in top1.items():
        assert r.vec_id == qid  # self lives in its own nearest cell
    # ranks are dense 1..k per query
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
