"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline (pure column ops:
``zip_with`` dot products inside codegen), and an IVF probe (coarse
k-means cells) as the scale path — at 10^9 vectors the cross join is
infeasible; IVF reduces each probe to a few cells' worth of candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # branch-free: when/otherwise would re-evaluate the fold-based dot
    # and norms per branch reference (similarity.py token_jaccard note)
    denom = norm(a) * norm(b)
    return F.coalesce(F.try_divide(dot(a, b), denom), F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the (small) query set against the
    corpus, rank per query. Returns (query_id, vec_id, cos_sim, rank)."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + cell-restricted probe
# ---------------------------------------------------------------------------

def train_ivf_centroids(
    corpus: DataFrame,
    k: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic distributed Lloyd's: init = the k vectors with the
    smallest ids (seeded corpora make this reproducible), then a few
    update rounds. Each round is one shuffle (posexplode -> groupBy
    (cell, dim) -> avg); centroids live on the driver (k*dim floats)."""
    init_rows = (
        corpus.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    centroids = [[float(x) for x in r[vec_col]] for r in init_rows]

    for _ in range(n_iter):
        assigned = corpus.select(
            F.col(vec_col),
            _nearest_centroid(F.col(vec_col), centroids).alias("_cell"),
        )
        sums = (
            assigned.select("_cell", F.posexplode(vec_col).alias("_dim", "_x"))
            .groupBy("_cell", "_dim")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new = {c: dict() for c in range(len(centroids))}
        for r in sums:
            new[r._cell][r._dim] = r._m
        centroids = [
            [new[c].get(d, centroids[c][d]) for d in range(len(centroids[c]))]
            if new.get(c)
            else centroids[c]
            for c in range(len(centroids))
        ]
    return centroids


def _nearest_centroid(vec: Column, centroids: list[list[float]]) -> Column:
    """argmax cosine over the (broadcast-literal) centroid list."""
    best_cell = F.lit(0)
    best_sim = cosine(vec, F.array(*[F.lit(x) for x in centroids[0]]))
    for c in range(1, len(centroids)):
        sim = cosine(vec, F.array(*[F.lit(x) for x in centroids[c]]))
        cond = sim > best_sim
        best_cell = F.when(cond, F.lit(c)).otherwise(best_cell)
        best_sim = F.when(cond, sim).otherwise(best_sim)
    return best_cell


def _nearest_cells(vec: Column, centroids: list[list[float]], n_probe: int) -> Column:
    """Array of the n_probe nearest cell ids (by cosine), descending."""
    scored = F.array(
        *[
            F.struct(
                cosine(vec, F.array(*[F.lit(x) for x in centroids[c]])).alias("s"),
                F.lit(c).alias("c"),
            )
            for c in range(len(centroids))
        ]
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    return F.transform(top, lambda t: t["c"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF probe: candidates restricted to the query's n_probe nearest
    cells, exact cosine within. At cluster scale the corpus is written
    partitioned by ``_cell`` so a probe scans n_probe partitions — the
    inverted-file layout, expressed as partition pruning."""
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_cv"),
        _nearest_centroid(F.col(vec_col), centroids).alias("_cell"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qv"),
        F.explode(_nearest_cells(F.col(vec_col), centroids, n_probe)).alias("_cell"),
    )
    scored = c.join(F.broadcast(q), "_cell").select(
        query_id_col, id_col, cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
