"""PageRank (iterative checkpointed frontier) and BM25 retrieval."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_pagerank_uniform_on_regular_graph(spark):
    """A perfectly symmetric ring graph (each node links to the next two)
    has the uniform distribution as its stationary point: every rank
    must equal 1.0 (in the times-N scale) at any iteration count."""
    from rlr_spark.functions.graph import pagerank

    n = 12
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = (
        spark.range(n)
        .select(F.col("id").alias("src"))
        .select(
            "src", F.explode(F.array(F.lit(1), F.lit(2))).alias("d")
        )
        .select("src", ((F.col("src") + F.col("d")) % n).alias("dst"))
    )
    out = pagerank(nodes, edges, out_degree=2, n_iter=8).collect()
    assert len(out) == n
    for r in out:
        assert r.rank == pytest.approx(1.0, abs=1e-9)


def test_pagerank_sink_heavy_node_ranks_highest(spark):
    """Star graph: every node points all its edges at node 0 (node 0
    self-loops). Node 0 must absorb nearly all mass; total mass is
    conserved (sum of times-N ranks == N)."""
    from rlr_spark.functions.graph import pagerank

    n = 10
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = spark.range(n).select(
        F.col("id").alias("src"), F.lit(0).alias("dst")
    )
    got = {r.node: r.rank for r in pagerank(nodes, edges, out_degree=1, n_iter=12).collect()}
    assert got[0] > 8.0  # nearly all of the mass of N=10
    assert sum(got.values()) == pytest.approx(n, abs=1e-3)
    for v in range(1, n):
        assert got[v] == pytest.approx(1.0 - 0.85, abs=1e-6)  # (1-d) only


def test_pagerank_matches_numpy_power_iteration(spark):
    """Exact parity with a dense numpy power iteration on the same
    synthetic md5 graph (the operator's own edge generator)."""
    import numpy as np

    from rlr_spark.functions.graph import pagerank, synthetic_link_edges

    n, k, iters, d = 40, 3, 7, 0.85
    df = spark.range(n).select(F.col("id").alias("doc_id"))
    nodes = df.select(F.col("doc_id").alias("node"))
    edges_df = synthetic_link_edges(df, out_degree=k)
    edges = [(r.src, r.dst) for r in edges_df.collect()]
    assert len(edges) == n * k and all(0 <= dst < n for _, dst in edges)

    A = np.zeros((n, n))
    for src, dst in edges:
        A[dst, src] += 1.0 / k
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1 - d) / n + d * (A @ r)

    got = {
        row.node: row.rank
        for row in pagerank(nodes, edges_df, out_degree=k, n_iter=iters).collect()
    }
    for v in range(n):
        assert got[v] == pytest.approx(r[v] * n, abs=1e-6), v


def test_bm25_ranks_matching_docs_first(spark):
    from rlr_spark.functions.retrieval import bm25_topk

    rows = [
        (1, "apple banana cherry apple"),
        (2, "apple apple apple apple apple"),
        (3, "dog cat mouse"),
        (4, "banana banana apple"),
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, ["apple", "banana"], topk=4).collect()
    ids = [r.doc_id for r in out]
    assert set(ids[:3]) == {1, 2, 4}  # the three matching docs lead
    assert out[3].score == 0.0        # 4th slot: a zero-scoring doc
    # doc 4 hits both terms incl. the rarer 'banana' twice -> top
    assert ids[0] == 4
    assert all(out[i].score >= out[i + 1].score for i in range(len(out) - 1))


def test_bm25_matches_hand_computation(spark):
    """One-term corpus small enough to check the Okapi formula by hand."""
    from rlr_spark.functions.retrieval import bm25_topk

    rows = [(1, "x x y y"), (2, "y y y y"), (3, "x y y y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.score for r in bm25_topk(df, ["x"], topk=3).collect()}
    n, avgdl, dfx, k1, b = 3.0, 4.0, 2.0, 1.2, 0.75
    idf = math.log((n - dfx + 0.5) / (dfx + 0.5) + 1)

    def s(tf, dl):
        return round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)), 4)

    assert out[1] == pytest.approx(s(2, 4))
    assert out[3] == pytest.approx(s(1, 4))
    assert out[2] == pytest.approx(0.0)


def test_weighted_sample_is_deterministic_and_weighted(spark):
    from pyspark.sql import functions as F

    from rlr_spark.functions.sampling import weighted_sample

    rows = [(i, 1000.0 if i < 10 else 0.001) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out1 = weighted_sample(df, k=10, weight=F.col("w")).collect()
    out2 = weighted_sample(df, k=10, weight=F.col("w")).collect()
    assert [r.doc_id for r in out1] == [r.doc_id for r in out2]  # deterministic
    # the ten heavy rows (1000.0 vs 0.001) dominate the sample
    heavy = sum(1 for r in out1 if r.doc_id < 10)
    assert heavy >= 9


def test_weighted_sample_excludes_nonpositive(spark):
    from pyspark.sql import functions as F

    from rlr_spark.functions.sampling import weighted_sample

    rows = [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    ids = {r.doc_id for r in weighted_sample(df, k=10, weight=F.col("w")).collect()}
    assert ids == {1, 5}

