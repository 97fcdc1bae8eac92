"""Lexical retrieval over the corpus — BM25 top-k.

The retrieval counterpart of the embedding ANN family: given a bag of
query terms, rank documents by Okapi BM25. Training-data pipelines use
exactly this shape for targeted corpus probes (find documents about X,
contamination spot-checks by keyword, quality-audit sampling).

Scale shape (100 TB): per-document term frequencies are computed with
``F.filter``/``F.size`` over the token array — pure column ops, no
explode, no shuffle on the corpus. The corpus-level statistics (N,
avgdl, per-term document frequencies) reduce to ONE aggregate row,
broadcast back; the only wide operation is the final top-k, which Spark
executes as ``TakeOrderedAndProject`` (per-partition heaps + driver
merge of k rows), never a full sort. A search *service* would build an
inverted index instead; for batch corpus probes this scan shape is the
right one — one pass, no index to maintain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    topk: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``topk`` documents by BM25 for ``query_terms``.

    idf uses the standard +1-inside-the-log form (always positive):
    ``ln((N - df + 0.5) / (df + 0.5) + 1)``. Ordering is by the ROUNDED
    score (4 dp) then ``id_col`` — fully deterministic across engines,
    so the SQL oracle's top-k is the same set even through float noise.

    Returns (id, score) — score rounded to 4 dp.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))  # NULL text == empty doc
    toks = F.split(F.trim(F.lower(txt)), r"\s+")
    dl = F.when(F.trim(txt) == "", F.lit(0)).otherwise(F.size(toks))

    # closure factory, NOT a default-arg lambda: pyspark derives the
    # higher-order-function arity from the python signature, so
    # ``lambda x, t=t`` would be called as (element, array_index) —
    # the repo's documented two-arg-lambda trap
    def _tf(term: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_cols = [_tf(t).alias(f"_tf_{i}") for i, t in enumerate(query_terms)]
    base = df.select(F.col(id_col), dl.alias("_dl"), *tf_cols)

    stats = base.agg(
        F.count("*").cast("double").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("long"))
            .cast("double")
            .alias(f"_df_{i}")
            for i in range(len(query_terms))
        ],
    )

    scored = base.crossJoin(F.broadcast(stats))
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl")
    )
    score = None
    for i in range(len(query_terms)):
        idf = F.log(
            (F.col("_n") - F.col(f"_df_{i}") + F.lit(0.5))
            / (F.col(f"_df_{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        tf = F.col(f"_tf_{i}").cast("double")
        term = idf * tf * F.lit(k1 + 1.0) / (tf + norm)
        score = term if score is None else score + term

    return (
        scored.select(F.col(id_col), F.round(score, 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(topk)
    )


def bm25_topk_sql(
    query_terms: list[str],
    topk: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle for :func:`bm25_topk` — same association order for
    every float expression (term contributions summed left-to-right in
    query-term order), same rounded-score-then-id ordering."""
    tf_exprs = ",\n              ".join(
        f"len(list_filter(string_split(trim(lower(coalesce({text_col}, ''))), ' '), "
        f"x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(query_terms)
    )
    df_exprs = ",\n              ".join(
        f"sum((tf_{i} > 0)::BIGINT)::DOUBLE AS df_{i}"
        for i in range(len(query_terms))
    )
    term_sum = "\n                 + ".join(
        f"ln((n - df_{i} + 0.5) / (df_{i} + 0.5) + 1) * tf_{i}::DOUBLE * {k1 + 1.0} "
        f"/ (tf_{i}::DOUBLE + {k1} * ({1.0 - b} + {b} * dl / avgdl))"
        for i in range(len(query_terms))
    )
    return f"""
        WITH base AS (
          SELECT {id_col},
              CASE WHEN trim(coalesce({text_col}, '')) = '' THEN 0
                   ELSE len(string_split(trim(lower({text_col})), ' ')) END AS dl,
              {tf_exprs}
          FROM {table}),
        st AS (
          SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
              {df_exprs}
          FROM base)
        SELECT {id_col},
               round({term_sum}, 4) AS score
        FROM base, st
        ORDER BY score DESC, {id_col}
        LIMIT {topk}
    """
