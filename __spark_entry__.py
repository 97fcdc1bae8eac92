"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every SQL-checkable operator from SURVEY.md §2 —
the reference's review/aggregation/join/navigation semantics (V1-V4, P1,
J1-J2, C1-C3, A1-A3, U1, N2) plus the north-rule pipeline stages
(blocking, similarity, FS scoring, connected components) and the
training-data operators (exact/ngram/minhash/simhash dedup, text
analysis, embedding similarity). ``oracle_sql()`` gives the DuckDB
equivalent for each; ``extended_oracle_sql()`` does the same for the
extended set, except the learned ``blocking_scheme`` (rows-only check).

Every computed column is aliased identically on both sides; doubles are
rounded to 6 places on both sides so the value hash is stable.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _rebal(df: DataFrame) -> DataFrame:
    """Rebalance an under-partitioned scan before CPU-heavy work.

    The testdata parquet files are single-row-group, so a scan yields
    ONE non-empty split no matter how many byte-splits are planned —
    a query doing heavy per-row/per-pair compute directly on the scan
    serializes on one core (measured: the c3 pair stage ran 3.5 s on 2
    tasks at 32 cores). The repartition shuffles only the tiny input;
    at scale inputs arrive in many splits and this is a no-op (the
    partition-count probe is metadata-only on a file scan)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(par // 3, 4):
        return df.repartition(par)
    return df


# ---------------------------------------------------------------------------
# entry: flagship — near-dup blocking + similarity + FS labels + clustering
# over the documents corpus (the full ER pipeline shape on driver testdata)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    sf_dir = "/root/testdata/sf0.001"
    return queries()["cc_clusters"](spark, sf_dir)


# ---------------------------------------------------------------------------
# shared building blocks (kept tiny so each query reads declaratively)
# ---------------------------------------------------------------------------

def _doc_pairs_same_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical within-source candidate pairs over documents (blocking
    pass on the 'source' key — the documents-table analogue of the
    normalized-domain block)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text", "lang")
    a = d.select(
        F.col("doc_id").alias("l_id"),
        F.col("source"),
        F.col("text").alias("l_text"),
        F.col("lang").alias("l_lang"),
    )
    b = d.select(
        F.col("doc_id").alias("r_id"),
        F.col("source"),
        F.col("text").alias("r_text"),
        F.col("lang").alias("r_lang"),
    )
    return a.join(b, "source").where(F.col("l_id") < F.col("r_id"))


_PAIR_SQL = """
    SELECT a.doc_id AS l_id, b.doc_id AS r_id, a.source AS source,
           a.text AS l_text, b.text AS r_text,
           a.lang AS l_lang, b.lang AS r_lang
    FROM documents a JOIN documents b
      ON a.source = b.source AND a.doc_id < b.doc_id
"""

_TOK = "list_distinct(string_split(lower(trim({c})), ' '))"
_JAC_SQL = (
    f"round(CASE WHEN len(list_distinct(list_concat({_TOK.format(c='l_text')}, "
    f"{_TOK.format(c='r_text')}))) = 0 THEN 0.0 ELSE "
    f"len(list_intersect({_TOK.format(c='l_text')}, {_TOK.format(c='r_text')}))::DOUBLE / "
    f"len(list_distinct(list_concat({_TOK.format(c='l_text')}, {_TOK.format(c='r_text')})))::DOUBLE END, 6)"
)

# FS weights used by the c3/cc queries (fixed, mirrored in SQL literals):
# group 1 = token-jaccard agreement (m=0.95, u=0.02), group 2 = same-lang
# (m=0.9, u=0.3). log2 weights inlined as exact decimal literals.
_W1_A, _W1_D = 5.569855608330948, -4.292781749227846  # log2(.95/.02), log2(.05/.98)
_W2_A, _W2_D = 1.5849625007211562, -2.807354922057604  # log2(.9/.3), log2(.1/.7)


def _fs_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize each document once (O(docs)), join the token arrays, and
    # compute jaccard with a single per-pair intersection — semantically
    # identical to token_jaccard(l_text, r_text) (and to the DuckDB
    # oracle), but ~20x cheaper at sf0.1's 622k same-source pairs
    from rlr_spark.functions.similarity import norm_tokens

    d = _rebal(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        "lang",
        norm_tokens(F.col("text")).alias("_toks"),
    ).withColumn("_n", F.size("_toks"))
    a = d.select(
        F.col("doc_id").alias("l_id"), "source",
        F.col("_toks").alias("_lt"), F.col("_n").alias("_ln"),
        F.col("lang").alias("l_lang"),
    )
    b = d.select(
        F.col("doc_id").alias("r_id"), "source",
        F.col("_toks").alias("_rt"), F.col("_n").alias("_rn"),
        F.col("lang").alias("r_lang"),
    )
    p = a.join(b, "source").where(F.col("l_id") < F.col("r_id"))
    inter = F.size(F.array_intersect(F.col("_lt"), F.col("_rt"))).cast("double")
    union = (F.col("_ln") + F.col("_rn")).cast("double") - inter
    # STAGED + BRANCH-FREE on purpose: jac feeds three output columns
    # (jaccard, fs_score, rlr_label) and Catalyst neither CSEs across
    # output columns nor inside conditional branches — the inlined form
    # re-ran array_intersect ~4x per pair. The lower projection
    # materializes _jac once (referenced 3x above, so CollapseProject
    # keeps it); try_divide avoids the when/otherwise double-eval.
    staged = p.select(
        "l_id", "r_id", "l_lang", "r_lang",
        F.coalesce(F.try_divide(inter, union), F.lit(0.0)).alias("_jac"),
    )
    agree1 = F.col("_jac") >= 0.5
    agree2 = F.col("l_lang") == F.col("r_lang")
    score = (
        F.when(agree1, F.lit(_W1_A)).otherwise(F.lit(_W1_D))
        + F.when(agree2, F.lit(_W2_A)).otherwise(F.lit(_W2_D))
    )
    return staged.select(
        "l_id",
        "r_id",
        F.round(F.col("_jac"), 6).alias("jaccard"),
        F.round(score, 6).alias("fs_score"),
        F.when(score >= 4.0, F.lit("Match"))
        .when(score <= 0.0, F.lit("Not a Match"))
        .otherwise(F.lit("Maybe a Match"))
        .alias("rlr_label"),
    )


# tokenize per document (O(docs)), not per pair — mirrors the Spark side
_BIGRAM_SQL = """
            WITH tl AS (
              SELECT doc_id, string_split(trim(lower(text)), ' ') AS ts
              FROM documents WHERE trim(lower(text)) <> ''),
            bg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS a,
                     unnest(list_transform(range(1, len(ts)), i -> ts[i + 1])) AS b
              FROM tl WHERE len(ts) >= 2),
            dbt AS (
              SELECT doc_id, a, b, count(*)::BIGINT AS cnt
              FROM bg GROUP BY doc_id, a, b),
            c2 AS (SELECT a, b, sum(cnt)::BIGINT AS c_ab FROM dbt GROUP BY a, b),
            c1 AS (SELECT a, sum(c_ab)::BIGINT AS c_a FROM c2 GROUP BY a),
            tok AS (SELECT doc_id, unnest(ts) AS tok FROM tl),
            occ AS (SELECT tok AS b, count(*)::BIGINT AS n_occ FROM tok GROUP BY tok),
            total AS (SELECT sum(n_occ)::DOUBLE AS n FROM occ)
            SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams,
                   round(sum(cnt::DOUBLE * ln(
                       0.7 * c_ab::DOUBLE / c_a::DOUBLE
                       + 0.3 * n_occ::DOUBLE / total.n))
                     / sum(cnt)::DOUBLE, 6) AS avg_logprob2
            FROM dbt JOIN c2 USING (a, b) JOIN c1 USING (a)
                 JOIN occ USING (b), total
            GROUP BY doc_id
"""


_FS_SQL = f"""
    WITH d AS (
      SELECT doc_id, source, lang,
             list_distinct(string_split(lower(trim(text)), ' ')) AS toks
      FROM documents),
    sc AS (
      SELECT a.doc_id AS l_id, b.doc_id AS r_id,
             round(CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0
                        THEN 0.0
                        ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
                             / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE
                    END, 6) AS jaccard,
             (CASE WHEN len(list_intersect(a.toks, b.toks))::DOUBLE
                        >= 0.5 * len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE
                    AND len(list_distinct(list_concat(a.toks, b.toks))) > 0
                   THEN {_W1_A} ELSE {_W1_D} END
              + CASE WHEN a.lang = b.lang THEN {_W2_A} ELSE {_W2_D} END) AS score
      FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
    SELECT l_id, r_id, jaccard, round(score, 6) AS fs_score,
           CASE WHEN score >= 4.0 THEN 'Match'
                WHEN score <= 0.0 THEN 'Not a Match'
                ELSE 'Maybe a Match' END AS rlr_label
    FROM sc
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _primary_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from rlr_spark.functions.dedup import (
        exact_dup_groups,
        minhash_dup_pairs,
        simhash_dup_pairs,
    )
    from rlr_spark.functions.embeddings import brute_force_topk
    from rlr_spark.functions.similarity import levenshtein_sim, token_jaccard
    from rlr_spark.functions.text import (
        bpe_ish_token_count,
        fingerprint,
        lang_id,
        punct_ratio,
        stopword_ratio,
        token_count,
    )
    from rlr_spark.operators.cluster import connected_components
    from rlr_spark.operators.review import (
        dense_pair_ids,
        existence_flags,
        goto_pair,
        label_counts,
        label_percentages,
        next_unlabeled,
        prev_pair,
    )

    # -- V1: key-uniqueness check (rlr.py:95,106) ---------------------------
    def v1_key_uniqueness(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        return (
            d.groupBy("doc_id")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > 1)
            .agg(F.count("*").alias("dup_keys"))
        )

    # -- V3: existence flags via joins, not row loops (rlr.py:168-179) ------
    def v3_existence_flags(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_partkey"
        )
        orders = _t(spark, sf_dir, "orders")
        # only even partkeys "exist" so both flag values occur
        part = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 2 == 0)
        flagged = existence_flags(
            li, orders, part, "o_orderkey", "p_partkey",
            l_pair_col="l_orderkey", r_pair_col="l_partkey",
        )
        return flagged.select(
            "l_orderkey", "l_linenumber", "rlr_l_id_exists", "rlr_r_id_exists"
        )

    # -- V4: coverage ratio (rlr.py:181-185) --------------------------------
    def v4_coverage_ratio(spark, sf_dir):
        flagged = v3_existence_flags(spark, sf_dir)
        return flagged.agg(
            F.round(
                F.avg((F.col("rlr_l_id_exists") * F.col("rlr_r_id_exists")).cast("double")),
                6,
            ).alias("coverage")
        )

    # -- A1+A2: label counts (rlr.py:341-368) + percentages (pages/01:267-
    # 270) in one row — label_percentages' count column IS label_counts'
    # output, so one row value-checks both (registry budget: the driver
    # checks 50 queries) -----------------------------------------------------
    def labeled_documents(spark, sf_dir):
        # "en" documents are the unlabeled ones; the rest carry their lang
        return _t(spark, sf_dir, "documents").withColumn(
            "rlr_label", F.when(F.col("lang") == "en", F.lit("")).otherwise(F.col("lang"))
        )

    def a2_label_percent(spark, sf_dir):
        return label_percentages(labeled_documents(spark, sf_dir))

    # -- A3: completion check (pages/02:185-191) -----------------------------
    def a3_completion(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        return d.agg(
            F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias("labeled"),
            F.count("*").alias("total"),
        )

    # -- J1: pair→record hash join (replaces .loc lookups, rlr.py:317,322) --
    def j1_pair_record_join(spark, sf_dir):
        orders = _t(spark, sf_dir, "orders")
        customer = _t(spark, sf_dir, "customer")
        return orders.join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"]).select(
            "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
        )

    # -- J2: grouped projection with 'no data found' (rlr.py:327-337) -------
    def j2_grouped_projection(spark, sf_dir):
        from rlr_spark.operators.compare import grouped_projection

        customer = _t(spark, sf_dir, "customer")
        supplier = _t(spark, sf_dir, "supplier")
        pairs = (
            customer.where(F.col("c_custkey") <= 20)
            .select(F.col("c_custkey").alias("l_id"))
            .crossJoin(
                supplier.where(F.col("s_suppkey") <= 5).select(
                    F.col("s_suppkey").alias("r_id")
                )
            )
        )
        schema = [
            {"name": "Name", "lvars": ["c_name"], "rvars": ["s_name"]},
            {"name": "Geo", "lvars": ["c_nationkey", "c_acctbal"], "rvars": ["s_nationkey"]},
        ]
        g = grouped_projection(pairs, customer, supplier, "c_custkey", "s_suppkey", schema)
        return g.select(
            "l_id",
            "r_id",
            F.concat_ws("|", "grp_name_lvals").alias("name_l"),
            F.concat_ws("|", "grp_name_rvals").alias("name_r"),
            F.concat_ws("|", "grp_geo_lvals").alias("geo_l"),
            F.concat_ws("|", "grp_geo_rvals").alias("geo_r"),
        )

    # -- C1: normalized exact-match bit (pages/02:137-143) -------------------
    def c1_exact_match(spark, sf_dir):
        part = _t(spark, sf_dir, "part")
        a = part.select(
            F.col("p_partkey").alias("l_id"), F.col("p_size"), F.col("p_brand").alias("lb")
        ).where(F.col("l_id") <= 500)
        b = part.select(
            F.col("p_partkey").alias("r_id"), F.col("p_size"), F.col("p_brand").alias("rb")
        ).where(F.col("r_id") <= 500)
        return (
            a.join(b, "p_size")
            .where(F.col("l_id") < F.col("r_id"))
            .select(
                "l_id",
                "r_id",
                (F.lower(F.trim(F.col("lb"))) == F.lower(F.trim(F.col("rb"))))
                .cast("int")
                .alias("exact_bit"),
            )
        )

    # -- C2: the full similarity vector in one row — token-Jaccard +
    # Levenshtein (JVM codegen) + Jaro-Winkler (batched Arrow pandas UDF;
    # matches DuckDB's jaro_winkler_similarity exactly — verified). One
    # driver row value-checks all three comparators (registry budget) --------
    def c2_similarity(spark, sf_dir):
        from rlr_spark.functions.similarity import jaro_winkler

        p = _doc_pairs_same_source(spark, sf_dir).where(
            (F.col("l_id") % 7 == 0) & (F.col("r_id") % 7 == 0)
        )
        return p.select(
            "l_id",
            "r_id",
            F.round(token_jaccard(F.col("l_text"), F.col("r_text")), 6).alias("jaccard"),
            F.round(
                levenshtein_sim(F.col("l_text"), F.col("r_text"), max_len=60), 6
            ).alias("lev_sim"),
            F.round(jaro_winkler(F.col("l_text"), F.col("r_text"), cap=64), 6).alias(
                "jw_sim"
            ),
        )

    # -- C3: Fellegi-Sunter score + label trichotomy --------------------------
    def c3_fs_score(spark, sf_dir):
        return _fs_scored_pairs(spark, sf_dir)

    # -- N1+N2+N3: all three cursor moves, union-tagged into one driver row
    # (registry budget) — prev (rlr.py:615-626), next-unlabeled top-1
    # (pages/02:25-36), goto / point access (rlr.py:627-633) ------------------
    def nav_cursor(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        n1 = prev_pair(d, "doc_id", 200).select(
            F.lit("n1_prev").alias("op"), "doc_id",
            F.lit("").alias("source"), F.lit("").alias("lang"),
        )
        # rlr_label == "" on the labeled frame selects lang == "en"
        n2 = next_unlabeled(labeled_documents(spark, sf_dir), "doc_id", 100).select(
            F.lit("n2_next").alias("op"), "doc_id",
            F.lit("").alias("source"), "lang",
        )
        n3 = goto_pair(d, "doc_id", 123).select(
            F.lit("n3_goto").alias("op"), "doc_id", "source", "lang"
        )
        return n1.unionAll(n2).unionAll(n3)

    # -- P1+P2: dense positional pair id (rlr.py:157) + review-column init
    # defaults (rlr.py:159-165) over the same frame — one driver row checks
    # both the window numbering and the init schema (registry budget) --------
    def p_review_init(spark, sf_dir):
        from rlr_spark.operators.review import init_review_columns

        d = init_review_columns(
            _t(spark, sf_dir, "documents").select("doc_id").where(F.col("doc_id") < 50)
        )
        return dense_pair_ids(d, ["doc_id"]).select(
            "doc_id", "pair_id", "rlr_label", "rlr_label_ind", "rlr_note",
            "rlr_l_id_exists", "rlr_r_id_exists",
        )

    # -- U1: bulk label upsert → counts (rlr.py:698-744) ----------------------
    def u1_upsert_labels(spark, sf_dir):
        from rlr_spark.operators.review import init_review_columns, upsert_labels

        d = init_review_columns(_t(spark, sf_dir, "documents").select("doc_id", "lang"))
        upd = d.where(F.col("lang") == "de").select(
            "doc_id", F.lit("Match").alias("rlr_label")
        )
        merged = upsert_labels(d, upd, ["doc_id"], ["Match"], stamp_ts="2024-01-01 00:00:00")
        return label_counts(merged)

    # -- blocking: pair count via salted self-join == closed form -------------
    def block_domain_paircount(spark, sf_dir):
        from rlr_spark.operators.blocking import block_pairs

        d = _t(spark, sf_dir, "documents").select(
            F.col("doc_id"), F.col("source").alias("blk_key")
        )
        pairs, _ = block_pairs(d, "doc_id", salt_k=4, max_block_size=None)
        return pairs.agg(F.count("*").alias("n_pairs"))

    # -- dedup: exact hash groups ---------------------------------------------
    def dedup_exact(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        return (
            exact_dup_groups(d)
            .groupBy("group_size")
            .agg(F.count("*").alias("n_docs"), F.min("dup_group_min_id").alias("min_rep"))
        )

    # -- text analysis: per-doc stats + rolling-hash fingerprint in one row
    # (char-3-gram Jaccard retired from the registry: prefix-join and
    # minhash both value-check token-set similarity — registry budget) --------
    def text_stats(spark, sf_dir):
        d = _rebal(_t(spark, sf_dir, "documents"))
        return d.select(
            "doc_id",
            token_count(F.col("text")).alias("n_tok"),
            bpe_ish_token_count(F.col("text")).alias("n_bpe"),
            F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
            F.round(stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
            fingerprint(F.col("text")).alias("fp"),
        )

    def text_lang_id(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        return d.select("doc_id", lang_id(F.col("text")).alias("lang_guess"))

    # -- embeddings: exact brute-force top-k ------------------------------------
    def emb_topk_cosine(spark, sf_dir):
        e = _t(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        q = e.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = brute_force_topk(e, q, k=5)
        return out.select(
            "query_id", "vec_id", F.round(F.col("cos_sim"), 4).alias("cos_sim"), "rank"
        )

    # -- connected components: Spark large-star/small-star vs recursive SQL ----
    def cc_clusters(spark, sf_dir):
        # checkpoint barrier BEFORE the label filter: predicate pushdown
        # substitutes rlr_label's full expression tree below the staged
        # projection, re-running the per-pair array_intersect in the
        # filter on top of the projection (measured 12s -> 4s for the
        # edge job at sf0.1). Materializing the scored pairs once makes
        # the filter a column read — the same reason the pipeline stores
        # its score stage as a table before clustering.
        scored = _fs_scored_pairs(spark, sf_dir).localCheckpoint(eager=False)
        edges = scored.where(F.col("rlr_label") == "Match").select(
            F.col("l_id").alias("u"), F.col("r_id").alias("v")
        )
        assign = connected_components(edges)
        docs = _t(spark, sf_dir, "documents").select("doc_id")
        return docs.join(assign, docs["doc_id"] == assign["node"], "left").select(
            "doc_id",
            F.coalesce(F.col("entity_id"), F.col("doc_id")).alias("entity_id"),
        )

    # -- survivorship: canonical ("golden") record per entity — the merge
    # step after clustering: longest text survives (ties -> smallest
    # doc_id), the modal lang survives (ties -> smallest value) --------
    def entity_golden(spark, sf_dir):
        from rlr_spark.operators.cluster import golden_records

        scored = _fs_scored_pairs(spark, sf_dir).localCheckpoint(eager=False)
        edges = scored.where(F.col("rlr_label") == "Match").select(
            F.col("l_id").alias("u"), F.col("r_id").alias("v")
        )
        assign = connected_components(edges)
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "n_chars"
        )
        full = docs.select("doc_id").join(
            assign, docs["doc_id"] == assign["node"], "left"
        ).select(
            "doc_id",
            F.coalesce(F.col("entity_id"), F.col("doc_id")).alias("entity_id"),
        )
        out = golden_records(
            full,
            docs,
            "doc_id",
            longest_col="text",
            length_col="n_chars",
            mode_cols=("lang",),
        )
        return out.select(
            "entity_key",
            F.col("n_members").cast("long").alias("n_members"),
            F.col("text_golden"),
            F.col("lang_golden"),
        )

    # -- hash-seeded ops, now value-checked: each oracle is an independent
    # reimplementation of the SAME deterministic math in DuckDB SQL (md5
    # simhash bits, first-k IVF quantizer),
    # or an exact brute-force the LSH output must equal at full recall ----
    def dedup_minhash(spark, sf_dir):
        # the banding must hash the SAME similarity the verify filter
        # measures: shingle_k=1 minhashes the token set itself (word-level
        # minhash, the standard web-dedup setup), so the S-curve runs on
        # token-jaccard — at s=0.8 with b=32, r=2 collision prob is
        # 1-(1-0.64)^32 ≈ 1-3e-15, i.e. recall 1.0 for every pair the
        # threshold admits, and the output equals the brute-force oracle.
        # (The ER pipeline keeps k=3 shingles — sequence-sensitive — for
        # its blocking; this query's contract is set similarity.)
        d = _t(spark, sf_dir, "documents")
        p = minhash_dup_pairs(
            d, jaccard_threshold=0.8, shingle_k=1, bands=32, rows_per_band=2
        )
        return p.select("l_id", "r_id", F.round("jaccard", 6).alias("jaccard"))

    def dedup_prefix_join(spark, sf_dir):
        # provably-complete exact similarity join (prefix filtering):
        # recall 1.0 by theorem, not by LSH probability — the brute-force
        # oracle is exact by construction
        from rlr_spark.functions.dedup import jaccard_prefix_join

        d = _t(spark, sf_dir, "documents")
        p = jaccard_prefix_join(d, threshold=0.8)
        return p.select("l_id", "r_id", F.round("jaccard", 6).alias("jaccard"))

    def dedup_simhash(spark, sf_dir):
        # max_hamming = n_tables-1 = 3: the pigeonhole guarantee makes
        # banding recall STRUCTURALLY exact (any pair within hamming 3
        # agrees on >=1 of the 4 16-bit bands), so the banded output
        # equals all-pairs brute force — which is what the oracle runs
        d = _t(spark, sf_dir, "documents")
        p = simhash_dup_pairs(d, max_hamming=3, n_tables=4)
        return p.select("l_id", "r_id", F.col("hamming").cast("int").alias("hamming"))

    # (registry budget: emb_ann_ivf's untrained n_iter=0 probe is subsumed
    # by emb_ann_ivf_trained's driver row — same assignment/probe/top-k
    # path plus Lloyd iterations)

    # -- two-dataset linkage: blocked L x R pairs + similarity (the
    # reference's primary workload shape: dataL vs dataR) ------------------
    def lr_linkage(spark, sf_dir):
        from rlr_spark.functions.similarity import levenshtein_sim
        from rlr_spark.operators.blocking import block_pairs_lr

        cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 300)
        supp = _t(spark, sf_dir, "supplier")
        keyed_l = cust.select(
            F.col("c_custkey").alias("l_id"), F.col("c_nationkey").alias("blk_key")
        )
        keyed_r = supp.select(
            F.col("s_suppkey").alias("r_id"), F.col("s_nationkey").alias("blk_key")
        )
        pairs, _ = block_pairs_lr(keyed_l, keyed_r, salt_k=4)
        lh = cust.select(F.col("c_custkey").alias("l_id"), F.col("c_name").alias("_ln"))
        rh = supp.select(F.col("s_suppkey").alias("r_id"), F.col("s_name").alias("_rn"))
        return (
            pairs.join(lh, "l_id")
            .join(F.broadcast(rh), "r_id")
            .select(
                "l_id",
                "r_id",
                F.round(levenshtein_sim(F.col("_ln"), F.col("_rn"), max_len=60), 6).alias(
                    "name_sim"
                ),
            )
        )

    # -- EM weight fitting (Winkler 1988), value-checked: the oracle runs
    # the identical 20 fixed iterations as a recursive CTE --------------------
    def em_weights(spark, sf_dir):
        from rlr_spark.functions.similarity import norm_tokens
        from rlr_spark.operators.scoring import estimate_mu_em

        d = _t(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", norm_tokens(F.col("text")).alias("_toks")
        ).withColumn("_n", F.size("_toks"))
        a = d.select(
            F.col("doc_id").alias("l_id"), "source",
            F.col("_toks").alias("_lt"), F.col("_n").alias("_ln"),
            F.col("lang").alias("l_lang"),
        )
        b = d.select(
            F.col("doc_id").alias("r_id"), "source",
            F.col("_toks").alias("_rt"), F.col("_n").alias("_rn"),
            F.col("lang").alias("r_lang"),
        )
        p = a.join(b, "source").where(F.col("l_id") < F.col("r_id"))
        inter = F.size(F.array_intersect(F.col("_lt"), F.col("_rt"))).cast("double")
        union = (F.col("_ln") + F.col("_rn")).cast("double") - inter
        # branch-free: when/otherwise re-evaluates array_intersect per
        # branch reference (see similarity.token_jaccard)
        jac = F.coalesce(F.try_divide(inter, union), F.lit(0.0))
        sims = p.select(
            jac.alias("sim_jaccard"),
            (F.col("l_lang") == F.col("r_lang")).cast("double").alias("sim_lang"),
        )
        mu, p_match = estimate_mu_em(
            sims, ["sim_jaccard", "sim_lang"], agree_threshold=0.5, n_iter=20, tol=0.0
        )
        rows = [
            (c, round(mu[c][0], 6), round(mu[c][1], 6), round(p_match, 6))
            for c in ["sim_jaccard", "sim_lang"]
        ]
        return spark.createDataFrame(
            rows, "metric string, m double, u double, p_match double"
        )

    # -- text quality heuristic --------------------------------------------------
    def text_quality(spark, sf_dir):
        from rlr_spark.functions.text import quality_score

        d = _t(spark, sf_dir, "documents")
        return d.select("doc_id", quality_score(F.col("text")).alias("quality"))

    # -- benchmark decontamination: hashed 5-gram overlap of "training"
    # docs (doc_id % 20 != 0) vs the "benchmark" slice (% 20 == 0); the
    # oracle joins on the gram STRINGS while the engine joins on
    # xxhash64(gram) longs — equal results prove the hashed path exact --
    def decontaminate(spark, sf_dir):
        from rlr_spark.functions.decontam import decontaminate as _decon

        d = _t(spark, sf_dir, "documents")
        train = d.where(F.col("doc_id") % 20 != 0)
        bench = d.where(F.col("doc_id") % 20 == 0)
        return _decon(train, bench, n=5, threshold=0.1)

    # -- Gopher-style repetition filters over documents; this corpus has
    # no newlines, so line_sep=\s+ exercises the token-level degenerate
    # (duplicate-token fraction) — newline corpora are pytest-covered ----
    def text_repetition(spark, sf_dir):
        from rlr_spark.functions.text import repetition_stats

        d = _t(spark, sf_dir, "documents")
        return repetition_stats(d, line_sep=r"\s+")

    # -- streaming replay == batch equivalence: documents split into 3
    # deterministic files, replayed through the foreachBatch incremental
    # near-dup stream (1 file per micro-batch); the final pairs table
    # must equal the BATCH brute-force jaccard >= 0.8 set — proving
    # stream/batch equivalence AND single emission across batches -------
    def stream_neardup_replay(spark, sf_dir):
        import shutil
        import tempfile

        from rlr_spark.streaming.ingest import incremental_neardup_stream

        base = os.path.join(
            tempfile.gettempdir(),
            f"rlr_stream_replay_{os.path.basename(sf_dir.rstrip('/'))}",
        )
        shutil.rmtree(base, ignore_errors=True)
        src, work = os.path.join(base, "src"), os.path.join(base, "work")
        d = _t(spark, sf_dir, "documents").select(
            F.concat(F.lit("u"), F.col("doc_id")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            F.lit(None).cast("string").alias("lang"),
            F.col("doc_id").alias("_b"),
        )
        for b in range(3):
            d.where(F.col("_b") % 3 == b).drop("_b").coalesce(1).write.parquet(
                f"{src}/b{b}"
            )
        q = incremental_neardup_stream(
            spark, src + "/*", work, jaccard_threshold=0.8
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # fold the per-batch state partitions before reading: the oracle
        # thereby also certifies that compaction is content-preserving
        from rlr_spark.streaming.ingest import compact_state

        compact_state(spark, work)
        pairs = spark.read.parquet(os.path.join(work, "pairs"))
        lid = F.substring("l_id", 2, 30).cast("long")
        rid = F.substring("r_id", 2, 30).cast("long")
        # re-canonicalize numerically: the stream orders pair ids
        # lexicographically over urls ("u10" < "u9")
        return pairs.select(
            F.least(lid, rid).alias("l_id"),
            F.greatest(lid, rid).alias("r_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )

    # -- INCREMENTAL ENTITY RESOLUTION replay: the same 3-batch stream,
    # now folding each batch's verified pairs into an EntityState
    # (bucketed assignments + alias chains for cross-batch merges).
    # Value-checked end to end: the oracle brute-forces the pair set
    # and runs CC as a recursive walk — the streamed clusters, with
    # entities re-keyed to their min doc_id, must match exactly -------
    def stream_entities(spark, sf_dir):
        import shutil
        import tempfile

        from rlr_spark.streaming.entities import EntityState
        from rlr_spark.streaming.ingest import incremental_neardup_stream

        base = os.path.join(
            tempfile.gettempdir(),
            f"rlr_stream_ents_{os.path.basename(sf_dir.rstrip('/'))}",
        )
        shutil.rmtree(base, ignore_errors=True)
        src, work = os.path.join(base, "src"), os.path.join(base, "work")
        d = _t(spark, sf_dir, "documents").select(
            F.concat(F.lit("u"), F.col("doc_id")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            F.lit(None).cast("string").alias("lang"),
            F.col("doc_id").alias("_b"),
        )
        for b in range(3):
            d.where(F.col("_b") % 3 == b).drop("_b").coalesce(1).write.parquet(
                f"{src}/b{b}"
            )
        st = EntityState(spark, os.path.join(base, "ents"), buckets=16)
        q = incremental_neardup_stream(
            spark, src + "/*", work, jaccard_threshold=0.8, entity_state=st
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        st.compact_aliases(10_000)  # oracle also certifies compaction
        a = st.assignments().select(
            F.substring("node", 2, 30).cast("long").alias("doc_id"), "entity"
        )
        # re-key entities from internal uids to min member doc_id — the
        # deterministic form a SQL oracle can reproduce
        rep = a.groupBy("entity").agg(F.min("doc_id").alias("entity_key"))
        return a.join(rep, "entity").select("doc_id", "entity_key")

    # -- IVF with a TRAINED quantizer (1 Lloyd round), value-checked:
    # the oracle reruns the identical round in SQL — first-8 init,
    # strict-> argmax assignment, per-(cell,dim) AVG update, empty cells
    # keep their init — then the n_probe=2 probe over the new centroids
    def emb_ann_ivf_trained(spark, sf_dir):
        from rlr_spark.functions.embeddings import ivf_topk, train_ivf_centroids

        e = _t(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        q = e.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        centroids = train_ivf_centroids(e, k=8, n_iter=1)
        return ivf_topk(e, q, centroids, k=5, n_probe=2).select(
            "query_id", "vec_id", F.round(F.col("cos_sim"), 4).alias("cos_sim"), "rank"
        )

    # -- the full dedup DECISION: minhash pairs -> CC -> canonical doc
    # per duplicate cluster; oracle = recursive-CTE CC over the
    # brute-force pair set --------------------------------------------------
    def dedup_clusters(spark, sf_dir):
        from rlr_spark.functions.dedup import neardup_clusters

        d = _t(spark, sf_dir, "documents")
        return neardup_clusters(d, jaccard_threshold=0.8)

    # deterministic PII planting for corpus_filter
    # (the corpus itself is clean word soup)
    def _planted_pii_text() -> F.Column:
        did = F.col("doc_id")
        return F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" contact user"), did.cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(
                    F.lit(" call +1 555-123-4567 or ping 10.0.0."),
                    (did % 250 + 1).cast("string"),
                ),
            ).otherwise(F.lit("")),
        )

    # -- the composed corpus filter — the decision a training-data
    # pipeline actually ships: quality + repetition + language + PII
    # signals conjoined into per-doc keep/drop with per-check flags ----------
    def corpus_filter(spark, sf_dir):
        from rlr_spark.functions.text import (
            lang_id,
            pii_counts,
            quality_score,
            repetition_stats,
        )

        d = _t(spark, sf_dir, "documents")
        rep = repetition_stats(d, line_sep=r"\s+").select(
            "doc_id", "dup_line_frac", "top2gram_mass"
        )
        base = d.select(
            "doc_id",
            quality_score(F.col("text")).alias("_q"),
            lang_id(F.col("text")).alias("_lg"),
            pii_counts(_planted_pii_text())["has_pii"].alias("_pii"),
        )
        j = base.join(rep, "doc_id")
        q_ok = F.col("_q") >= 0.45
        rep_ok = (F.col("dup_line_frac") <= 0.6) & (F.col("top2gram_mass") <= 0.5)
        lang_ok = F.col("_lg") == "en"
        pii_ok = ~F.col("_pii")
        return j.select(
            "doc_id",
            q_ok.alias("q_ok"),
            rep_ok.alias("rep_ok"),
            lang_ok.alias("lang_ok"),
            pii_ok.alias("pii_ok"),
            (q_ok & rep_ok & lang_ok & pii_ok).alias("keep"),
        )

    # -- link-graph PageRank: iterative checkpointed-frontier centrality
    # over a deterministic md5-derived link graph (the crawl-side quality
    # prior; same frontier machinery as the CC clustering stage) -----------
    def graph_pagerank(spark, sf_dir):
        from rlr_spark.functions.graph import pagerank, synthetic_link_edges

        d = _t(spark, sf_dir, "documents")
        nodes = d.select(F.col("doc_id").alias("node"))
        edges = synthetic_link_edges(d, out_degree=4)
        return pagerank(nodes, edges, out_degree=4, n_iter=10).select(
            F.col("node").alias("doc_id"), "rank"
        )

    # -- sampling, union-tagged into one driver row (registry budget):
    # deterministic weighted sample (Efraimidis-Spirakis top-k, a pure
    # function of (ids, weights, k)) + deterministic stratified sampling
    # (md5 hash-gated keep per stratum — reproducible train/dev splits).
    # The `key` column carries each method's decision value so the hash
    # check covers the draw itself, not just membership. ------------------
    def samples(spark, sf_dir):
        from rlr_spark.functions.sampling import weighted_sample as _ws

        d = _t(spark, sf_dir, "documents")
        ws = _ws(d, k=100, weight=F.col("n_chars")).select(
            F.lit("weighted").alias("method"),
            "doc_id",
            F.col("samp_key").alias("key"),
        )
        gate = (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 100
        )
        rate = F.when(F.col("lang") == "en", F.lit(25)).otherwise(F.lit(75))
        strat = d.where(gate < rate).select(
            F.lit("stratified").alias("method"),
            "doc_id",
            gate.cast("double").alias("key"),
        )
        return ws.unionAll(strat)

    # -- BM25 top-k lexical retrieval: the keyword-probe counterpart of
    # the embedding ANN family (corpus audits, contamination spot-checks) --
    def bm25_topk(spark, sf_dir):
        from rlr_spark.functions.retrieval import bm25_topk as _bm25

        return _bm25(
            _t(spark, sf_dir, "documents"),
            query_terms=["spark", "hash", "window"],
            topk=20,
        )

    # -- gap-based sessionization over the events stream: one shuffle on
    # user_id, lag -> flag -> running sum (the canonical construction) ----
    def events_sessionize(spark, sf_dir):
        from rlr_spark.operators.temporal import sessionize

        out = sessionize(_t(spark, sf_dir, "events"), gap_minutes=30)
        return out.select(
            "user_id",
            "session_idx",
            "n_events",
            F.col("start_ts").cast("timestamp").cast("long").alias("start_es"),
            F.col("end_ts").cast("timestamp").cast("long").alias("end_es"),
            "duration_sec",
        )

    # -- as-of join: each non-error event picks up the most recent prior
    # (or simultaneous) error's value for the same user — union-tag-window
    # form, one shuffle over |L|+|R|, never a per-key range explosion ------
    def events_asof(spark, sf_dir):
        from rlr_spark.operators.temporal import asof_join

        ev = _t(spark, sf_dir, "events")
        left = ev.where(F.col("event_type") != "error")
        right = ev.where(F.col("event_type") == "error")
        out = asof_join(left, right, on="user_id", value_cols=("value",))
        return out.select(
            "user_id",
            F.col("ts").cast("timestamp").cast("long").alias("es"),
            "event_id",
            # no-match NULLs -> sentinels: a nullable long column would
            # arrive as NaN-float via Arrow/pandas on the Spark side but
            # as None via fetchall on the DuckDB side — same values,
            # different hash. Sentinels keep both columns non-null.
            F.coalesce(F.round(F.col("r_value"), 4), F.lit(-1.0)).alias("r_value"),
            F.coalesce(
                F.col("r_ts").cast("timestamp").cast("long"), F.lit(-1)
            ).alias("r_es"),
        )

    # -- sorted-neighborhood blocking (the third classic ER blocking
    # family): sort by (n_chars, id) within each lang prefix, pair each
    # row with its next-2 neighbors — prefix-partitioned, no global sort --
    def snm_pairs(spark, sf_dir):
        from rlr_spark.operators.blocking import sorted_neighborhood_pairs

        return sorted_neighborhood_pairs(
            _t(spark, sf_dir, "documents"),
            id_col="doc_id",
            sort_cols=("n_chars",),
            prefix_col="lang",
            window=2,
        )

    # -- overlapping token-window chunking (the embed/pack prestep of
    # every RAG/training pipeline): 64-token windows, stride 48 --------
    def text_chunks(spark, sf_dir):
        from rlr_spark.functions.text import chunk_documents

        d = _t(spark, sf_dir, "documents")
        return chunk_documents(d, chunk_tokens=64, stride=48)

    # -- exact per-group quantiles of document length (continuous
    # interpolation — Spark percentile() == DuckDB quantile_cont) ---------
    def length_quantiles(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        qs = d.groupBy("lang").agg(
            F.percentile(F.col("n_chars"), F.lit(0.25)).alias("_q25"),
            F.percentile(F.col("n_chars"), F.lit(0.5)).alias("_q50"),
            F.percentile(F.col("n_chars"), F.lit(0.75)).alias("_q75"),
            F.percentile(F.col("n_chars"), F.lit(0.9)).alias("_q90"),
        )
        return qs.select(
            "lang",
            *[F.round(F.col(f"_q{p}"), 4).alias(f"q{p}") for p in (25, 50, 75, 90)],
        )

    # -- corpus vocabulary stats: document frequency + IDF per token,
    # top-50 by df — the tokenizer/vocab table a corpus pipeline keeps --
    def vocab_stats(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        total = d.count()  # tiny driver-side scalar; the oracle recomputes it
        raw = F.split(F.trim(F.lower(F.col("text"))), r"\s+")  # NOT distinct
        tok = d.where(F.trim(F.col("text")) != "").select(
            "doc_id", F.explode(raw).alias("tok")
        )
        stats = tok.groupBy("tok").agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        out = stats.select(
            "tok",
            "n_docs",
            "n_occ",
            F.round(
                F.log(F.lit(float(total)) / F.col("n_docs").cast("double")), 6
            ).alias("idf"),
        )
        return out.orderBy(F.desc("n_docs"), "tok").limit(50)

    # -- interpolated bigram LM (backed off to the corpus unigram MLE):
    # token order matters, so vocabulary-plausible gibberish separates
    # out -----------------------------------------------------------------
    def text_bigram_lm(spark, sf_dir):
        from rlr_spark.functions.text import bigram_logprob

        return bigram_logprob(_t(spark, sf_dir, "documents"), lam=0.7)

    # -- sequence packing (concat-and-chunk): per-doc shard + token
    # offsets + first/last training-sequence index, per-shard windows --
    def pack_sequences(spark, sf_dir):
        from rlr_spark.functions.packing import pack_offsets

        return pack_offsets(
            _t(spark, sf_dir, "documents"), ctx_len=512, n_shards=8
        )

    # -- review-packet JSON round-trip (S6): save -> load -> live cursor ->
    # save -> reload; the returned row is the reloaded packet state ----------
    def packet_roundtrip(spark, sf_dir):
        import tempfile

        from rlr_spark.sources.packet import ReviewPacket

        with tempfile.TemporaryDirectory() as tmp:
            p = ReviewPacket(
                file_L=f"{sf_dir}/customer.parquet",
                file_L_ids=["c_custkey"],
                file_R=f"{sf_dir}/supplier.parquet",
                file_R_ids=["s_suppkey"],
                file_comps=f"{sf_dir}/orders.parquet",
                var_group_schema=[{"name": "Name", "lvars": ["c_name"], "rvars": ["s_name"]}],
                label_choices=["Match", "Not a Match"],
                curr_comp_pair_index=0,
            )
            path = tmp + "/packet.json"
            p.save(path)
            loaded = ReviewPacket.load(path)
            loaded.curr_comp_pair_index = 7  # the live-cursor update
            loaded.save(path)
            final = ReviewPacket.load(path)
        row = (
            final.file_L_ids[0],
            final.file_R_ids[0],
            len(final.var_group_schema),
            len(final.label_choices),
            final.curr_comp_pair_index,
        )
        return spark.createDataFrame(
            [row],
            "l_id_col string, r_id_col string, n_groups int, n_labels int, cursor int",
        )

    # -- meta-blocking: shingle blocks -> purge -> CBS blocking graph ->
    # weighted-node pruning (Papadakis et al. TKDE 2014). CBS weights are
    # integer-valued doubles, so the WNP threshold comparison is exact in
    # both engines; JS/ECBS/ARCS are brute-force-verified in pytest. ---------
    def meta_blocking(spark, sf_dir):
        from rlr_spark.operators.metablocking import meta_blocking_pairs

        return meta_blocking_pairs(
            _t(spark, sf_dir, "documents"),
            scheme="cbs",
            prune="wnp",
            mode="or",
            purge_cap=64,
        ).select("l_id", "r_id", F.round("weight", 6).alias("weight"))

    # -- Monge-Elkan token-set comparator (JW inner, DuckDB-exact) over
    # sampled within-source pairs --------------------------------------------
    def monge_elkan(spark, sf_dir):
        from rlr_spark.functions.similarity import monge_elkan_scores

        p = (
            _doc_pairs_same_source(spark, sf_dir)
            .where((F.col("l_id") % 7 == 0) & (F.col("r_id") % 7 == 0))
            .where((F.trim(F.col("l_text")) != "") & (F.trim(F.col("r_text")) != ""))
        )
        out = monge_elkan_scores(
            p, "l_text", "r_text", id_cols=["l_id", "r_id"], max_tokens=8
        )
        return out.select(
            "l_id", "r_id", F.round("monge_elkan", 6).alias("monge_elkan")
        )

    # -- DSIR importance resampling (Xie et al. 2023): hashed-unigram
    # bucket LMs (md5 buckets — bit-mirrorable), Gumbel-top-k selection -------
    def dsir_sample(spark, sf_dir):
        from rlr_spark.functions.sampling import dsir_sample as dsir

        return dsir(
            _t(spark, sf_dir, "documents"),
            F.col("source") == "src0",
            k=100,
            n_buckets=64,
        )

    # REGISTRY BUDGET: the driver's correctness harness checks at most
    # DRIVER_QUERY_BUDGET entries (in dict order). Keep this dict at or
    # under that size so EVERY registered operator gets a driver-green
    # row — near-duplicate variants are merged into one row (see the
    # "registry budget" comments above) or live in extended_queries(),
    # which tools/check_oracles.py checks with the same methodology.
    # tests/test_entry.py enforces the cap.
    return {
        "v1_key_uniqueness": v1_key_uniqueness,
        "v3_existence_flags": v3_existence_flags,
        "v4_coverage_ratio": v4_coverage_ratio,
        "a2_label_percent": a2_label_percent,
        "a3_completion": a3_completion,
        "j1_pair_record_join": j1_pair_record_join,
        "j2_grouped_projection": j2_grouped_projection,
        "c1_exact_match": c1_exact_match,
        "c2_similarity": c2_similarity,
        "c3_fs_score": c3_fs_score,
        "nav_cursor": nav_cursor,
        "p_review_init": p_review_init,
        "u1_upsert_labels": u1_upsert_labels,
        "block_domain_paircount": block_domain_paircount,
        "dedup_exact": dedup_exact,
        "text_stats": text_stats,
        "text_lang_id": text_lang_id,
        "emb_topk_cosine": emb_topk_cosine,
        "cc_clusters": cc_clusters,
        "entity_golden": entity_golden,
        "dedup_minhash": dedup_minhash,
        "dedup_prefix_join": dedup_prefix_join,
        "dedup_simhash": dedup_simhash,
        "lr_linkage": lr_linkage,
        "em_weights": em_weights,
        "text_quality": text_quality,
        "packet_roundtrip": packet_roundtrip,
        "decontaminate": decontaminate,
        "text_repetition": text_repetition,
        "stream_neardup_replay": stream_neardup_replay,
        "stream_entities": stream_entities,
        "emb_ann_ivf_trained": emb_ann_ivf_trained,
        "dedup_clusters": dedup_clusters,
        "corpus_filter": corpus_filter,
        "vocab_stats": vocab_stats,
        "graph_pagerank": graph_pagerank,
        "samples": samples,
        "bm25_topk": bm25_topk,
        "events_sessionize": events_sessionize,
        "events_asof": events_asof,
        "snm_pairs": snm_pairs,
        "text_chunks": text_chunks,
        "length_quantiles": length_quantiles,
        "text_bigram_lm": text_bigram_lm,
        "pack_sequences": pack_sequences,
        "meta_blocking": meta_blocking,
        "monge_elkan": monge_elkan,
        "dsir_sample": dsir_sample,
    }


# the driver checks this many queries() entries per round; queries()
# must never outgrow it (tests/test_entry.py::test_registry_budget)
DRIVER_QUERY_BUDGET = 50

# entries checked ONLY by tools/check_oracles.py (same three-way
# methodology, not part of the driver's 50-row budget): distinct
# algorithms whose registry rows were consolidated into family
# representatives — they keep full oracle coverage here.
_EXTENDED = (
    "dedup_ngram",
    "emb_ann_ivf",
    "entity_history",
    # round-6 rotation: newest/least-proven operators take the driver's
    # 50 checked rows (review_uncertainty, threshold_sweep,
    # blocking_quality promoted; meta_blocking, monge_elkan, dsir_sample
    # new); these three are r5-driver-green with their families still
    # represented in the driver window, so they keep full oracle
    # coverage here (tools/check_oracles.py checks BOTH sets each round)
    "vocab_stats",
    "text_repetition",
    "text_quality",
    # new this round, defined in the secondary builder
    "fs_tf_score",
    "cluster_bcubed",
    "linkage_waterfall",
    "cluster_ari",
    "group_links",
    "fs_patterns",
    # rotated OUT of the driver window (families keep a driver row:
    # a3_completion / emb_ann_ivf_trained / ppl_buckets subsumes the
    # bigram-LM row / percentile machinery re-exercised by ppl_buckets);
    # all retain full three-way coverage via tools/check_oracles.py
    "a2_label_percent",
    "emb_topk_cosine",
    "length_quantiles",
    "text_bigram_lm",
    # round-6 session-2 rotation: five new ER operators (c2_damerau,
    # link_cascade, fs_null_levels, cluster_vmeasure, unlinkables) take
    # driver rows; these four are r5-DRIVER-green with their families
    # still in the window (dedup_minhash+dedup_clusters for near-dup,
    # j1 for pair joins, graph_pagerank for graph, c3_fs_score+
    # fs_null_levels for FS fitting), and keep full three-way coverage
    # via tools/check_oracles.py
    "dedup_prefix_join",
    "dedup_simhash",
    "j2_grouped_projection",
    "em_weights",
    # (same rotation, batch 2: clk_dice + soft_tfidf + graph_adamic_adar
    # take driver rows; near-dup family keeps dedup_exact/dedup_minhash
    # in-window, text family keeps text_stats/corpus_filter)
    "dedup_clusters",
    "text_lang_id",
    # (batch 3: token_sort + cluster_stability take driver rows —
    # text_stats' column ops re-exercised by corpus_filter/text_chunks,
    # lr_linkage's LR blocking shape by link_cascade + clk_dice)
    "text_stats",
    "lr_linkage",
    # c2_numeric starts extended (comparator family well-repped in-window)
    "c2_numeric",
    "transitivity_audit",
    "blocking_scheme",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-facing registry: the full query set minus ``_EXTENDED``,
    in definition order (primary first, promoted secondary entries
    last). tests/test_entry.py pins the <= 50 budget."""
    full = {**_primary_queries(), **_secondary_queries()}
    return {k: v for k, v in full.items() if k not in _EXTENDED}


def extended_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Entries checked ONLY by tools/check_oracles.py (same three-way
    methodology, outside the driver's 50-row budget)."""
    full = {**_primary_queries(), **_secondary_queries()}
    return {k: full[k] for k in _EXTENDED}


def _secondary_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from rlr_spark.functions.dedup import ngram_jaccard

    # -- dedup: char-3-gram Jaccard over sampled pairs ------------------------
    def dedup_ngram(spark, sf_dir):
        p = _doc_pairs_same_source(spark, sf_dir).where(
            (F.col("l_id") % 11 == 0) & (F.col("r_id") % 11 == 0)
        )
        return p.select(
            "l_id",
            "r_id",
            F.round(ngram_jaccard(F.col("l_text"), F.col("r_text"), 3), 6).alias(
                "ngram_jaccard"
            ),
        )

    def emb_ann_ivf(spark, sf_dir):
        from rlr_spark.functions.embeddings import ivf_topk, train_ivf_centroids

        e = _t(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        q = e.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        # n_iter=0: quantizer = the k smallest-id vectors, so the oracle
        # can rebuild the identical quantizer in SQL and value-check the
        # whole IVF probe path (assignment, n_probe cells, in-cell top-k).
        centroids = train_ivf_centroids(e, k=8, n_iter=0)
        return ivf_topk(e, q, centroids, k=5, n_probe=3).select(
            "query_id", "vec_id", F.round(F.col("cos_sim"), 4).alias("cos_sim"), "rank"
        )

    # -- uncertainty-sampled review queue: the 200 pairs a human should
    # label next — FS score nearest a decision threshold (active
    # learning over the reference's review workflow). Global top-k
    # compiles to TakeOrderedAndProject: per-partition heaps, no global
    # sort, O(k) driver memory at 10^12 pairs. --------------------------------
    def review_uncertainty(spark, sf_dir):
        from rlr_spark.operators.scoring import review_queue

        return review_queue(
            _fs_scored_pairs(spark, sf_dir).select("l_id", "r_id", "fs_score"),
            k=200,
            upper=4.0,
            lower=0.0,
        )

    # -- SCD2 validity intervals: which state was this id, when —
    # gaps-and-islands over one shuffle key (operators/temporal.py) ----------
    def entity_history(spark, sf_dir):
        from rlr_spark.operators.temporal import track_history

        ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 200)
        return track_history(
            ev, id_col="user_id", state_col="event_type", ts_col="ts"
        )

    # -- P/R/F1 at every distinct score threshold, in one pass: pairs
    # collapse to (score, n, n_true) buckets (<= 2^|fields| rows for FS
    # scoring), the cumulative window runs over the buckets, never the
    # pairs. Truth = jaccard >= 0.5 pairs from the same scored set. ----------
    def threshold_sweep(spark, sf_dir):
        from rlr_spark.operators.evaluate import threshold_sweep as sweep

        sc = _fs_scored_pairs(spark, sf_dir)
        truth = sc.where(F.col("jaccard") >= 0.5).select("l_id", "r_id")
        out = sweep(sc, truth)
        # The oracle's window sum() yields DuckDB HUGEINT, which a
        # pandas-style fetch widens to float64 ("6000.0"); emit DOUBLE
        # here so both sides stringify identically under a
        # type-sensitive comparator. Values are integral either way.
        return out.withColumn(
            "predicted_pos", F.col("predicted_pos").cast("double")
        ).withColumn("true_pos", F.col("true_pos").cast("double"))

    # -- blocking scorecard: pairs-completeness + reduction ratio for a
    # simulated blocking pass (every third left id) vs the same truth -------
    def blocking_quality(spark, sf_dir):
        from rlr_spark.operators.evaluate import blocking_quality as bq

        sc = _fs_scored_pairs(spark, sf_dir)
        cand = sc.where(F.col("l_id") % 3 == 0).select("l_id", "r_id")
        truth = sc.where(F.col("jaccard") >= 0.5).select("l_id", "r_id")
        n = _t(spark, sf_dir, "documents").count()
        return bq(cand, truth, n_records=n)

    # -- TF-adjusted Fellegi-Sunter: rare-value agreement outweighs
    # common-value agreement (Winkler's frequency-based matching) ------------
    def fs_tf_score(spark, sf_dir):
        from rlr_spark.operators.scoring import fs_score_tf

        first2 = lambda c: F.concat_ws(  # noqa: E731
            " ", F.slice(F.split(F.trim(F.lower(F.col(c))), r"\s+"), 1, 2)
        )
        d = _t(spark, sf_dir, "documents")
        recs = d.select("doc_id", first2("text").alias("name"), "lang")
        p = _doc_pairs_same_source(spark, sf_dir).where(
            (F.col("l_id") % 5 == 0) & (F.col("r_id") % 5 == 0)
        )
        pairs = p.select(
            "l_id",
            "r_id",
            first2("l_text").alias("l_name"),
            first2("r_text").alias("r_name"),
            "l_lang",
            "r_lang",
        )
        out = fs_score_tf(pairs, recs, {"name": (0.95, 0.05), "lang": (0.9, 0.3)})
        return out.select(
            "l_id", "r_id", F.round("fs_score_tf", 6).alias("fs_score_tf")
        )

    # -- B-cubed P/R/F1 of the CC clustering vs exact-duplicate truth --------
    def cluster_bcubed(spark, sf_dir):
        from rlr_spark.operators.cluster import connected_components
        from rlr_spark.operators.evaluate import bcubed

        scored = _fs_scored_pairs(spark, sf_dir).localCheckpoint(eager=False)
        edges = scored.where(F.col("rlr_label") == "Match").select(
            F.col("l_id").alias("u"), F.col("r_id").alias("v")
        )
        docs = _t(spark, sf_dir, "documents")
        pred = (
            docs.select("doc_id")
            .join(
                connected_components(edges),
                F.col("doc_id") == F.col("node"),
                "left",
            )
            .select(
                "doc_id",
                F.coalesce(F.col("entity_id"), F.col("doc_id")).alias("entity_id"),
            )
        )
        h = docs.select("doc_id", F.md5(F.col("text")).alias("_h"))
        truth = h.join(
            h.groupBy("_h").agg(F.min("doc_id").alias("_t")), "_h"
        ).select("doc_id", F.col("_t").alias("entity_id"))
        return bcubed(pred, truth)

    # -- iterated mutual-best 1:1 assignment over the scored pairs ----------
    # (operators/matching.py — the distributed one-to-one linkage step
    # the reference leaves to the human reviewer; rounds=2 so the
    # oracle also value-checks the exclusion+rematch iteration)
    def match_one_to_one(spark, sf_dir):
        from rlr_spark.operators.matching import one_to_one_match

        scored = _fs_scored_pairs(spark, sf_dir).where(F.col("jaccard") > 0)
        return one_to_one_match(
            scored.select("l_id", "r_id", "jaccard"),
            score_col="jaccard",
            rounds=2,
        )

    # -- multi-pass linkage waterfall: exact text (pass 1) then fuzzy
    # jaccard >= 0.3 (pass 2); earliest pass claims each left record ---------
    def waterfall(spark, sf_dir):
        from rlr_spark.operators.matching import linkage_waterfall

        d = _t(spark, sf_dir, "documents").select(
            "doc_id", "source", "text", F.md5("text").alias("_h")
        )
        a = d.select(
            F.col("doc_id").alias("l_id"), "source",
            F.col("_h").alias("_lh"),
        )
        b = d.select(
            F.col("doc_id").alias("r_id"), "source",
            F.col("_h").alias("_rh"),
        )
        exact = (
            a.join(b, "source")
            .where((F.col("l_id") < F.col("r_id")) & (F.col("_lh") == F.col("_rh")))
            .select("l_id", "r_id", F.lit(1.0).alias("score"))
        )
        fuzzy = (
            _fs_scored_pairs(spark, sf_dir)
            .where(F.col("jaccard") >= 0.3)
            .select("l_id", "r_id", F.col("jaccard").alias("score"))
        )
        return linkage_waterfall(
            [("exact_text", exact), ("jaccard_0.3", fuzzy)], score_col="score"
        )

    # -- sparse TF-IDF cosine all-pairs (functions/tfidf.py): the
    # weighted lexical similarity join between PPJoin (set overlap) and
    # embedding ANN (dense); exact mode so the oracle is unconditional --------
    def tfidf_cosine(spark, sf_dir):
        from rlr_spark.functions.tfidf import all_pairs_cosine

        d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
        return all_pairs_cosine(d, threshold=0.795)

    # -- phonetic blocking scorecard (functions/phonetic.py): Soundex of
    # each document's first token as the block key; per-key sizes and
    # the candidate-pair cost the key would induce ---------------------------
    def phonetic_blocks(spark, sf_dir):
        from rlr_spark.functions.phonetic import soundex_col

        d = _t(spark, sf_dir, "documents")
        tok1 = F.split(F.trim(F.lower(F.col("text"))), r"\s+")[0]
        return (
            d.select(soundex_col(tok1).alias("skey"))
            .groupBy("skey")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(
                "skey",
                "n_docs",
                F.expr("n_docs * (n_docs - 1) DIV 2").alias("n_pairs"),
            )
        )

    # -- CCNet-style perplexity terciles over the bigram LM score ------------
    def ppl_buckets(spark, sf_dir):
        from rlr_spark.functions.text import perplexity_buckets

        return perplexity_buckets(_t(spark, sf_dir, "documents"), lam=0.7)

    # -- Adjusted Rand of the CC clustering vs exact-duplicate truth
    # (chance-corrected pair counting next to cluster_bcubed's
    # per-record averaging — the two standard extrinsic ER metrics) ----------
    def cluster_ari(spark, sf_dir):
        from rlr_spark.operators.cluster import connected_components
        from rlr_spark.operators.evaluate import adjusted_rand

        scored = _fs_scored_pairs(spark, sf_dir).localCheckpoint(eager=False)
        edges = scored.where(F.col("rlr_label") == "Match").select(
            F.col("l_id").alias("u"), F.col("r_id").alias("v")
        )
        docs = _t(spark, sf_dir, "documents")
        pred = (
            docs.select("doc_id")
            .join(
                connected_components(edges),
                F.col("doc_id") == F.col("node"),
                "left",
            )
            .select(
                "doc_id",
                F.coalesce(F.col("entity_id"), F.col("doc_id")).alias("entity_id"),
            )
        )
        h = docs.select("doc_id", F.md5(F.col("text")).alias("_h"))
        truth = h.join(
            h.groupBy("_h").agg(F.min("doc_id").alias("_t")), "_h"
        ).select("doc_id", F.col("_t").alias("entity_id"))
        return adjusted_rand(pred, truth)

    # -- group linkage (operators/matching.py): households = per-source
    # rosters split into even/odd doc "census rounds"; member links by
    # token jaccard, group score = |1:1-matched| / |A u B| -----------------
    def group_links(spark, sf_dir):
        from rlr_spark.functions.similarity import token_jaccard
        from rlr_spark.operators.matching import group_linkage

        d = _t(spark, sf_dir, "documents")
        left = d.where(F.col("doc_id") % 2 == 0).select(
            F.col("doc_id").alias("l_id"),
            F.col("source").alias("l_group"),
            "lang",
            F.col("text").alias("l_text"),
        )
        right = d.where(F.col("doc_id") % 2 == 1).select(
            F.col("doc_id").alias("r_id"),
            F.col("source").alias("r_group"),
            "lang",
            F.col("text").alias("r_text"),
        )
        links = (
            left.join(right, "lang")
            .select(
                "l_group",
                "r_group",
                "l_id",
                "r_id",
                F.round(
                    token_jaccard(F.col("l_text"), F.col("r_text")), 6
                ).alias("score"),
            )
            .where(F.col("score") >= 0.2)
        )
        lsz = left.groupBy("l_group").count()
        rsz = right.groupBy("r_group").count()
        # avg_score is an average of rounded doubles — summation order
        # can flip its last rounded digit across engines (observed at
        # 0.7964285); the driver row carries only the integer-derived,
        # order-independent columns
        return group_linkage(links, lsz, rsz).select(
            "l_group", "r_group", "n_matched", "group_sim"
        )

    # -- FS agreement-pattern diagnostics (operators/scoring.py): the
    # observed-vs-model-expected pattern table; gammas decoded from the
    # (jaccard, fs_score) pair since the 4 rounded score levels are
    # distinct constants ------------------------------------------------------
    def fs_patterns(spark, sf_dir):
        from rlr_spark.operators.scoring import pattern_diagnostics

        s11 = round(_W1_A + _W2_A, 6)
        s01 = round(_W1_D + _W2_A, 6)
        sc = _fs_scored_pairs(spark, sf_dir)
        g1 = (F.col("jaccard") >= 0.5).cast("int")
        lvl = F.when(g1 == 1, F.lit(s11)).otherwise(F.lit(s01))
        g2 = (F.col("fs_score") == lvl).cast("int")
        gp = sc.select(g1.alias("g1"), g2.alias("g2"))
        return pattern_diagnostics(
            gp, ["g1", "g2"], m=[0.95, 0.9], u=[0.02, 0.3], p_match=0.2
        )

    # -- true Damerau-Levenshtein similarity (functions/similarity.py):
    # Arrow-batched Lowrance-Wagner DP, bit-identical to DuckDB's
    # damerau_levenshtein on ASCII (the cap-then-normalize order is
    # load-bearing: substring(1,64) BEFORE trim/lower, mirrored in SQL) ------
    def c2_damerau(spark, sf_dir):
        from rlr_spark.functions.similarity import damerau_sim

        p = _doc_pairs_same_source(spark, sf_dir).where(
            (F.col("l_id") % 11 == 0) & (F.col("r_id") % 11 == 0)
        )
        return p.select(
            "l_id",
            "r_id",
            F.round(damerau_sim(F.col("l_text"), F.col("r_text")), 6).alias(
                "damerau_sim"
            ),
        )

    # -- unique-unique rule cascade (operators/matching.py): the
    # ABE-style deterministic multi-pass matcher over customer->supplier;
    # keys tighten from (nation, name-suffix) to name-suffix to nation,
    # residuals shrink on BOTH sides between passes ---------------------------
    def link_cascade(spark, sf_dir):
        from rlr_spark.operators.matching import rule_cascade

        sfx = lambda c: F.substring(F.col(c), -2, 2)  # noqa: E731
        left = _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("l_id"),
            F.concat_ws("|", F.col("c_nationkey"), sfx("c_name")).alias("k1"),
            sfx("c_name").alias("k2"),
            F.col("c_nationkey").cast("string").alias("k3"),
        )
        right = _t(spark, sf_dir, "supplier").select(
            F.col("s_suppkey").alias("r_id"),
            F.concat_ws("|", F.col("s_nationkey"), sfx("s_name")).alias("k1"),
            sfx("s_name").alias("k2"),
            F.col("s_nationkey").cast("string").alias("k3"),
        )
        return rule_cascade(
            left,
            right,
            [
                ("nat_sfx", F.col("k1"), F.col("k1")),
                ("sfx", F.col("k2"), F.col("k2")),
                ("nat", F.col("k3"), F.col("k3")),
            ],
        )

    # -- NULL-aware three-level FS (operators/scoring.py): similarity
    # NULLs (deterministically injected missingness) score weight 0 and
    # gamma -1 instead of being punished as disagreement ----------------------
    def fs_null_levels(spark, sf_dir):
        from rlr_spark.functions.similarity import token_jaccard
        from rlr_spark.operators.scoring import FSWeights, fs_score_nullsafe

        p = _doc_pairs_same_source(spark, sf_dir).where(
            (F.col("l_id") % 7 == 0) & (F.col("r_id") % 7 == 0)
        )
        null_d = F.lit(None).cast("double")
        sim1 = F.when(
            (F.col("l_id") % 5 == 0) | (F.col("r_id") % 5 == 0), null_d
        ).otherwise(token_jaccard(F.col("l_text"), F.col("r_text")))
        sim2 = F.when(
            (F.col("l_id") % 3 == 0) | (F.col("r_id") % 3 == 0), null_d
        ).otherwise((F.col("l_lang") == F.col("r_lang")).cast("double"))
        base = p.select("l_id", "r_id", sim1.alias("jac"), sim2.alias("lang_eq"))
        w = FSWeights(
            groups={"jac": (0.95, 0.02), "lang_eq": (0.9, 0.3)},
            agree_threshold=0.5,
        )
        return fs_score_nullsafe(base, w).select(
            "l_id",
            "r_id",
            "gamma_jac",
            "gamma_lang_eq",
            F.round("fs_score", 6).alias("fs_score"),
        )

    # -- V-measure / homogeneity / completeness / purity
    # (operators/evaluate.py): same pred/truth framing as cluster_ari ---------
    def cluster_vmeasure(spark, sf_dir):
        from rlr_spark.operators.cluster import connected_components
        from rlr_spark.operators.evaluate import vmeasure

        scored = _fs_scored_pairs(spark, sf_dir).localCheckpoint(eager=False)
        edges = scored.where(F.col("rlr_label") == "Match").select(
            F.col("l_id").alias("u"), F.col("r_id").alias("v")
        )
        docs = _t(spark, sf_dir, "documents")
        pred = (
            docs.select("doc_id")
            .join(
                connected_components(edges),
                F.col("doc_id") == F.col("node"),
                "left",
            )
            .select(
                "doc_id",
                F.coalesce(F.col("entity_id"), F.col("doc_id")).alias("entity_id"),
            )
        )
        h = docs.select("doc_id", F.md5(F.col("text")).alias("_h"))
        truth = h.join(
            h.groupBy("_h").agg(F.min("doc_id").alias("_t")), "_h"
        ).select("doc_id", F.col("_t").alias("entity_id"))
        return vmeasure(pred, truth)

    # -- CLK privacy-preserving linkage (functions/ppl.py): Bloom-filter
    # bigram encodings compared by Dice within nationkey blocks; pure
    # column ops (no UDF), position hashing bit-identical to the oracle ------
    def clk_dice(spark, sf_dir):
        from rlr_spark.functions.ppl import clk_positions, dice

        cust = (
            _t(spark, sf_dir, "customer")
            .where(F.col("c_custkey") <= 300)
            .select(
                F.col("c_custkey").alias("l_id"),
                F.col("c_nationkey").alias("nk"),
                clk_positions(F.col("c_name")).alias("_lp"),
            )
        )
        supp = _t(spark, sf_dir, "supplier").select(
            F.col("s_suppkey").alias("r_id"),
            F.col("s_nationkey").alias("nk"),
            clk_positions(F.col("s_name")).alias("_rp"),
        )
        return cust.join(F.broadcast(supp), "nk").select(
            "l_id",
            "r_id",
            F.round(dice(F.col("_lp"), F.col("_rp")), 6).alias("clk_dice"),
        )

    # -- Soft TF-IDF comparator (functions/tfidf.py): idf-weighted
    # Jaro-Winkler hybrid over sampled same-source pairs ----------------------
    def soft_tfidf(spark, sf_dir):
        from rlr_spark.functions.tfidf import soft_tfidf_scores

        p = (
            _doc_pairs_same_source(spark, sf_dir)
            .where((F.col("l_id") % 11 == 0) & (F.col("r_id") % 11 == 0))
            .select("l_id", "r_id")
        )
        return soft_tfidf_scores(p, _t(spark, sf_dir, "documents"))

    # -- Adamic-Adar collective-ER evidence (functions/graph.py): shared
    # rare suppliers as relationship overlap between customers ---------------
    def graph_adamic_adar(spark, sf_dir):
        from rlr_spark.functions.graph import adamic_adar

        o = _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("u")
        )
        li = _t(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s")
        )
        e = o.join(li, "ok").where(F.col("u") <= 200).select("u", "s")
        return adamic_adar(e)

    # -- token-sort ratio (functions/similarity.py): order-free
    # Levenshtein over sorted token lists, pure codegen column ops -----------
    def token_sort(spark, sf_dir):
        from rlr_spark.functions.similarity import token_sort_sim

        p = _doc_pairs_same_source(spark, sf_dir).where(
            (F.col("l_id") % 11 == 0) & (F.col("r_id") % 11 == 0)
        )
        return p.select(
            "l_id",
            "r_id",
            F.round(token_sort_sim(F.col("l_text"), F.col("r_text")), 6).alias(
                "token_sort_sim"
            ),
        )

    # -- cluster stability across thresholds (operators/evaluate.py):
    # the threshold-picking curve — per threshold, CC + entity sizes ---------
    def cluster_stability_q(spark, sf_dir):
        from rlr_spark.operators.evaluate import cluster_stability

        sc = (
            _fs_scored_pairs(spark, sf_dir)
            .select("l_id", "r_id", "fs_score")
            .localCheckpoint(eager=False)
        )
        return cluster_stability(sc, thresholds=[0.0, 5.0, 8.0])

    # -- numeric tolerance levels (functions/similarity.py): Splink-style
    # amount comparator over blocked customer-supplier balances --------------
    def c2_numeric(spark, sf_dir):
        from rlr_spark.functions.similarity import numeric_levels

        cust = (
            _t(spark, sf_dir, "customer")
            .where(F.col("c_custkey") <= 300)
            .select(
                F.col("c_custkey").alias("l_id"),
                F.col("c_nationkey").alias("nk"),
                F.col("c_acctbal").alias("_lb"),
            )
        )
        supp = _t(spark, sf_dir, "supplier").select(
            F.col("s_suppkey").alias("r_id"),
            F.col("s_nationkey").alias("nk"),
            F.col("s_acctbal").alias("_rb"),
        )
        return cust.join(F.broadcast(supp), "nk").select(
            "l_id",
            "r_id",
            numeric_levels(
                F.col("_lb"), F.col("_rb"), abs_tol=100.0, rel_tol=0.2
            ).alias("gamma_bal"),
        )

    # -- transitivity audit (operators/evaluate.py): where clustering
    # will override the pairwise scorer at the Match threshold ---------------
    def transitivity_audit_q(spark, sf_dir):
        from rlr_spark.operators.evaluate import transitivity_audit

        sc = (
            _fs_scored_pairs(spark, sf_dir)
            .select("l_id", "r_id", "fs_score")
            .localCheckpoint(eager=False)
        )
        return transitivity_audit(sc, match_threshold=4.0)

    # -- blocking-scheme learning (operators/schemes.py): greedy
    # disjunctive cover of exact-dup truth; iterative driver greedy ->
    # rows-only driver check (no SQL oracle, correctly) -----------------------
    def blocking_scheme(spark, sf_dir):
        from rlr_spark.operators.schemes import learn_blocking_scheme

        d = _t(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("rec_id"), "source", "lang", "text"
        )
        # truth = near-dup pairs (the threshold_sweep truth definition);
        # exact dups don't exist at sf0.01, near-dups do
        truth = (
            _fs_scored_pairs(spark, sf_dir)
            .where(F.col("jaccard") >= 0.5)
            .select("l_id", "r_id")
        )
        preds = {
            "source": F.col("source"),
            "lang": F.col("lang"),
            "tok1": F.split(F.trim(F.lower(F.col("text"))), r"\s+")[0],
        }
        choices = learn_blocking_scheme(d, truth, preds, max_predicates=3)
        return spark.createDataFrame(
            [
                (c.name, c.new_true_pairs, c.cum_true_pairs, c.cand_pairs)
                for c in choices
            ],
            "predicate string, new_true_pairs long, cum_true_pairs long, cand_pairs long",
        )

    # -- unlinkables analysis (operators/evaluate.py): per-record best
    # FS score distribution incl. the blocking-orphan NULL bucket -------------
    def unlinkables_curve(spark, sf_dir):
        from rlr_spark.operators.evaluate import unlinkables

        sc = _fs_scored_pairs(spark, sf_dir).select("l_id", "r_id", "fs_score")
        return unlinkables(_t(spark, sf_dir, "documents"), sc)

    return {
        "dedup_ngram": dedup_ngram,
        "emb_ann_ivf": emb_ann_ivf,
        "review_uncertainty": review_uncertainty,
        "threshold_sweep": threshold_sweep,
        "blocking_quality": blocking_quality,
        "entity_history": entity_history,
        "fs_tf_score": fs_tf_score,
        "cluster_bcubed": cluster_bcubed,
        "match_one_to_one": match_one_to_one,
        "linkage_waterfall": waterfall,
        "tfidf_cosine": tfidf_cosine,
        "phonetic_blocks": phonetic_blocks,
        "ppl_buckets": ppl_buckets,
        "cluster_ari": cluster_ari,
        "group_links": group_links,
        "fs_patterns": fs_patterns,
        "c2_damerau": c2_damerau,
        "link_cascade": link_cascade,
        "fs_null_levels": fs_null_levels,
        "cluster_vmeasure": cluster_vmeasure,
        "unlinkables": unlinkables_curve,
        "clk_dice": clk_dice,
        "soft_tfidf": soft_tfidf,
        "graph_adamic_adar": graph_adamic_adar,
        "token_sort": token_sort,
        "cluster_stability": cluster_stability_q,
        "c2_numeric": c2_numeric,
        "transitivity_audit": transitivity_audit_q,
        "blocking_scheme": blocking_scheme,
    }


def extended_oracle_sql() -> dict[str, str]:
    # entries absent from the oracle dict (the learned blocking_scheme)
    # get the rows-only check in tools/check_oracles.py
    full = _oracle_sql_full()
    return {k: full[k] for k in _EXTENDED if k in full}


def _track_history_oracle() -> str:
    from rlr_spark.operators.temporal import track_history_sql

    return track_history_sql(
        "(SELECT * FROM events WHERE user_id < 200)",
        id_col="user_id",
        state_col="event_type",
        ts_col="ts",
    )


def _pagerank_oracle() -> str:
    from rlr_spark.functions.graph import pagerank_sql

    # same parameterization as graph_pagerank above
    return pagerank_sql(n_iter=10, damping=0.85, out_degree=4)


def _phonetic_blocks_oracle() -> str:
    from rlr_spark.functions.phonetic import soundex_sql

    key = soundex_sql("(string_split_regex(trim(lower(text)), '\\s+'))[1]")
    return f"""
        WITH k AS (SELECT {key} AS skey FROM documents)
        SELECT skey, count(*) AS n_docs,
               (count(*) * (count(*) - 1)) // 2 AS n_pairs
        FROM k GROUP BY skey
    """


def _tfidf_cosine_oracle() -> str:
    from rlr_spark.functions.tfidf import all_pairs_cosine_sql

    return all_pairs_cosine_sql(
        "(SELECT * FROM documents WHERE doc_id % 5 = 0) d", threshold=0.795
    )


def _fs_patterns_oracle() -> str:
    from rlr_spark.operators.scoring import pattern_diagnostics_sql

    s11 = round(_W1_A + _W2_A, 6)
    s01 = round(_W1_D + _W2_A, 6)
    pairs = f"""
        SELECT CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END AS g1,
               CASE WHEN fs_score = (CASE WHEN jaccard >= 0.5
                                     THEN {s11!r} ELSE {s01!r} END)
                    THEN 1 ELSE 0 END AS g2
        FROM ({_FS_SQL})
    """
    return pattern_diagnostics_sql(
        pairs, ["g1", "g2"], m=[0.95, 0.9], u=[0.02, 0.3], p_match=0.2
    )


def _bm25_oracle() -> str:
    from rlr_spark.functions.retrieval import bm25_topk_sql

    return bm25_topk_sql(["spark", "hash", "window"], topk=20)


def _samples_oracle() -> str:
    from rlr_spark.functions.sampling import weighted_sample_sql

    ws = weighted_sample_sql(k=100, weight_expr="n_chars")
    return f"""
        SELECT 'weighted' AS method, doc_id, samp_key AS key
        FROM ({ws})
        UNION ALL
        SELECT 'stratified' AS method, doc_id,
               (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100)::DOUBLE
                 AS key
        FROM documents
        WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100
              < (CASE WHEN lang = 'en' THEN 25 ELSE 75 END)
    """


def _sessionize_oracle() -> str:
    from rlr_spark.operators.temporal import sessionize_sql

    inner = sessionize_sql(gap_minutes=30)
    return f"""
        SELECT user_id, session_idx::BIGINT AS session_idx,
               n_events::BIGINT AS n_events,
               floor(epoch(start_ts))::BIGINT AS start_es,
               floor(epoch(end_ts))::BIGINT AS end_es,
               duration_sec::BIGINT AS duration_sec
        FROM ({inner})
    """


def _asof_oracle() -> str:
    from rlr_spark.operators.temporal import asof_join_sql

    inner = asof_join_sql(
        "SELECT * FROM events WHERE event_type <> 'error'",
        "SELECT * FROM events WHERE event_type = 'error'",
        value_cols=("value",),
    )
    return f"""
        SELECT user_id, floor(epoch(ts))::BIGINT AS es, event_id,
               coalesce(round(r_value, 4), -1.0) AS r_value,
               coalesce(floor(epoch(r_ts))::BIGINT, -1) AS r_es
        FROM ({inner})
    """


def _clk_dice_oracle() -> str:
    from rlr_spark.functions.ppl import clk_positions_sql, dice_sql

    return f"""
        WITH c AS (
          SELECT c_custkey AS l_id, c_nationkey AS nk,
                 {clk_positions_sql("c_name")} AS lp
          FROM customer WHERE c_custkey <= 300),
        s AS (
          SELECT s_suppkey AS r_id, s_nationkey AS nk,
                 {clk_positions_sql("s_name")} AS rp
          FROM supplier)
        SELECT l_id, r_id, round({dice_sql("lp", "rp")}, 6) AS clk_dice
        FROM c JOIN s USING (nk)
    """


def oracle_sql() -> dict[str, str]:
    """Driver-facing oracles: exactly the queries() registry entries
    (the retired-variant oracles live in extended_oracle_sql())."""
    return {k: v for k, v in _oracle_sql_full().items() if k not in _EXTENDED}


def _oracle_sql_full() -> dict[str, str]:
    from rlr_spark.functions.text import fingerprint_sql

    # --- shared fragments for the hash-math oracles -------------------------
    # bit b (0 = LSB) of the 64-bit big-endian prefix of md5 hex string x:
    # hex char index (1-based) = 16 - b//4, nibble bit = b % 4
    def _md5_bit(b: str) -> str:
        return (
            f"((strpos('0123456789abcdef', substr(x, (16 - (({b}) // 4))::INTEGER, 1)) - 1)"
            f" // (CASE ({b}) % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END)) % 2 = 1"
        )

    def _simhash_half(offset: int) -> str:
        # 32-bit half of the simhash: bit b set iff a strict majority of
        # the distinct tokens has md5-bit (b+offset) set
        return (
            "list_sum(list_transform(range(32), b -> CASE WHEN "
            f"2 * len(list_filter(hs, x -> {_md5_bit(f'b + {offset}')})) > nt "
            "THEN (1::BIGINT << b) ELSE 0 END))::BIGINT"
        )

    _BRUTE_JAC_SQL = """
        WITH d AS (
          SELECT doc_id,
                 list_distinct(string_split(lower(trim(text)), ' ')) AS toks
          FROM documents)
        SELECT a.doc_id AS l_id, b.doc_id AS r_id,
               round(CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0
                          THEN 0.0
                          ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
                               / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE
                      END, 6) AS jaccard
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE (CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0
                    THEN 0.0
                    ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
                         / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE
                END) >= 0.8
    """

    from rlr_spark.functions.text import EMAIL_RE as _EMAIL_RE
    from rlr_spark.functions.text import IPV4_RE as _IPV4_RE
    from rlr_spark.functions.text import PHONE_RE as _PHONE_RE

    ngram = (
        "list_distinct(list_transform(range(1, greatest(length(lower({c}))-2, 0)+1), "
        "i -> substr(lower({c}), i::INTEGER, 3)))"
    )
    ngram_l, ngram_r = ngram.format(c="l_text"), ngram.format(c="r_text")

    sw = "['the','a','an','and','or','of','to','in','on','for','with','at','by','from','is','are','was','this','that','it']"
    markers = {
        "de": "['und','der','die','das','nicht']",
        "en": "['the','and','with','from','this']",
        "es": "['los','las','por','para','como']",
        "fr": "['les','des','avec','pour','dans']",
    }
    toks = "string_split(trim(lower(text)), ' ')"
    lang_cnt = {
        lang: f"len(list_filter({toks}, t -> list_contains({arr}, t)))"
        for lang, arr in markers.items()
    }
    # argmax with alphabetical tie-break, default 'en' when all zero —
    # exactly mirrors rlr_spark.functions.text.lang_id's fold order
    lang_case = f"""
      CASE
        WHEN {lang_cnt['fr']} > greatest({lang_cnt['de']}, {lang_cnt['en']}, {lang_cnt['es']}, 0) THEN 'fr'
        WHEN {lang_cnt['es']} > greatest({lang_cnt['de']}, {lang_cnt['en']}, 0) THEN 'es'
        WHEN {lang_cnt['en']} > greatest({lang_cnt['de']}, 0) THEN 'en'
        WHEN {lang_cnt['de']} > 0 THEN 'de'
        ELSE 'en'
      END
    """

    # shared fragments: quality composite (mirrors text.quality_score),
    # the deterministic PII planting, and the has-pii predicate over a
    # planted-text column named pt
    quality_expr = f"""round((
        least((CASE WHEN trim(text) = '' OR text IS NULL THEN 0
                    ELSE len(string_split(trim(text), ' ')) END)::DOUBLE / 50.0, 1.0)
        + (1.0 - least((CASE WHEN length(regexp_replace(coalesce(text,''), '\\s', '', 'g')) = 0
                             THEN 0.0
                             ELSE length(regexp_replace(coalesce(text,''), '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                                  / length(regexp_replace(coalesce(text,''), '\\s', '', 'g'))::DOUBLE
                         END) * 5, 1.0))
        + least((CASE WHEN trim(text) = '' OR text IS NULL THEN 0.0
                      ELSE len(list_filter({toks}, t -> list_contains({sw}, t)))::DOUBLE
                           / len({toks})::DOUBLE
                  END) * 5, 1.0)
      ) / 3, 6)"""
    planted_sql = """text
        || (CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || doc_id::VARCHAR || '@example.com now'
                 ELSE '' END)
        || (CASE WHEN doc_id % 11 = 0
                 THEN ' call +1 555-123-4567 or ping 10.0.0.' || (doc_id % 250 + 1)::VARCHAR
                 ELSE '' END)"""
    has_pii_sql = (
        f"(len(regexp_extract_all(pt, '{_EMAIL_RE}'))"
        f" + len(regexp_extract_all(pt, '{_PHONE_RE}'))"
        f" + len(regexp_extract_all(pt, '{_IPV4_RE}'))) > 0"
    )

    return {
        "v1_key_uniqueness": """
            SELECT count(*) AS dup_keys FROM (
              SELECT doc_id FROM documents GROUP BY doc_id HAVING count(*) > 1)
        """,
        "v3_existence_flags": """
            SELECT l.l_orderkey, l.l_linenumber,
                   CASE WHEN o.o_orderkey IS NULL THEN 0 ELSE 1 END AS rlr_l_id_exists,
                   CASE WHEN p.p_partkey IS NULL THEN 0 ELSE 1 END AS rlr_r_id_exists
            FROM lineitem l
            LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
              ON l.l_orderkey = o.o_orderkey
            LEFT JOIN (SELECT DISTINCT p_partkey FROM part WHERE p_partkey % 2 = 0) p
              ON l.l_partkey = p.p_partkey
        """,
        "v4_coverage_ratio": """
            SELECT round(avg((rlr_l_id_exists * rlr_r_id_exists)::DOUBLE), 6) AS coverage
            FROM (
              SELECT CASE WHEN o.o_orderkey IS NULL THEN 0 ELSE 1 END AS rlr_l_id_exists,
                     CASE WHEN p.p_partkey IS NULL THEN 0 ELSE 1 END AS rlr_r_id_exists
              FROM lineitem l
              LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
                ON l.l_orderkey = o.o_orderkey
              LEFT JOIN (SELECT DISTINCT p_partkey FROM part WHERE p_partkey % 2 = 0) p
                ON l.l_partkey = p.p_partkey)
        """,
        "a2_label_percent": """
            WITH c AS (
              SELECT coalesce(nullif(CASE WHEN lang = 'en' THEN '' ELSE lang END, ''),
                              'Unlabeled') AS label,
                     count(*) AS count
              FROM documents GROUP BY 1)
            SELECT label, count,
                   round(count::DOUBLE / (SELECT sum(count) FROM c) * 100, 1) AS pct
            FROM c
        """,
        "a3_completion": """
            -- ::BIGINT: DuckDB's sum() returns HUGEINT (int128); the driver's
            -- value hash is type-sensitive and Spark's sum is BIGINT
            SELECT sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS labeled,
                   count(*) AS total
            FROM documents
        """,
        "j1_pair_record_join": """
            SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "j2_grouped_projection": """
            SELECT c.c_custkey AS l_id, s.s_suppkey AS r_id,
                   c.c_name AS name_l, s.s_name AS name_r,
                   c.c_nationkey::VARCHAR || '|' || c.c_acctbal::VARCHAR AS geo_l,
                   s.s_nationkey::VARCHAR AS geo_r
            FROM customer c CROSS JOIN supplier s
            WHERE c.c_custkey <= 20 AND s.s_suppkey <= 5
        """,
        "c1_exact_match": """
            SELECT a.p_partkey AS l_id, b.p_partkey AS r_id,
                   CASE WHEN lower(trim(a.p_brand)) = lower(trim(b.p_brand))
                        THEN 1 ELSE 0 END AS exact_bit
            FROM part a JOIN part b
              ON a.p_size = b.p_size AND a.p_partkey < b.p_partkey
            WHERE a.p_partkey <= 500 AND b.p_partkey <= 500
        """,
        "c2_similarity": f"""
            WITH pairs AS ({_PAIR_SQL})
            SELECT l_id, r_id, {_JAC_SQL} AS jaccard,
                   round(CASE WHEN greatest(length(substr(trim(lower(l_text)), 1, 60)),
                                            length(substr(trim(lower(r_text)), 1, 60))) = 0
                              THEN 1.0
                              ELSE 1.0 - levenshtein(substr(trim(lower(l_text)), 1, 60),
                                                     substr(trim(lower(r_text)), 1, 60))::DOUBLE
                                   / greatest(length(substr(trim(lower(l_text)), 1, 60)),
                                              length(substr(trim(lower(r_text)), 1, 60)))::DOUBLE
                          END, 6) AS lev_sim,
                   round(jaro_winkler_similarity(lower(trim(substr(l_text, 1, 64))),
                                                 lower(trim(substr(r_text, 1, 64)))), 6)
                     AS jw_sim
            FROM pairs WHERE l_id % 7 = 0 AND r_id % 7 = 0
        """,
        "c3_fs_score": _FS_SQL,
        # margin from the ROUNDED fs_score on both sides (the Spark query
        # feeds review_queue the rounded column), so the float math is
        # bit-identical; (margin, l_id, r_id) is a total order -> the
        # LIMIT is deterministic
        "review_uncertainty": f"""
            SELECT l_id, r_id, fs_score,
                   round(least(abs(fs_score - 4.0), abs(fs_score - 0.0)), 6)
                       AS margin
            FROM ({_FS_SQL})
            ORDER BY margin, l_id, r_id
            LIMIT 200
        """,
        # cumulative window over score buckets (DuckDB's default RANGE
        # frame == the Spark side's explicit rangeBetween); precision/
        # recall/f1 computed from UNROUNDED ratios, rounded at output —
        # mirrors operators/evaluate.py exactly
        "threshold_sweep": f"""
            WITH sc AS ({_FS_SQL}),
            b AS (
              SELECT fs_score AS threshold, count(*) AS n,
                     sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS n_true
              FROM sc GROUP BY fs_score),
            c AS (
              SELECT threshold,
                     sum(n) OVER (ORDER BY threshold DESC) AS predicted_pos,
                     sum(n_true) OVER (ORDER BY threshold DESC) AS true_pos
              FROM b),
            tt AS (SELECT count(*) AS truth_total FROM sc WHERE jaccard >= 0.5)
            SELECT threshold, predicted_pos, true_pos,
                   round(true_pos / predicted_pos, 6) AS precision,
                   round(true_pos / truth_total, 6) AS recall,
                   round(CASE WHEN (true_pos / predicted_pos
                                    + true_pos / truth_total) > 0
                              THEN 2 * (true_pos / predicted_pos)
                                     * (true_pos / truth_total)
                                   / (true_pos / predicted_pos
                                      + true_pos / truth_total)
                              ELSE 0.0 END, 6) AS f1
            FROM c, tt
        """,
        "entity_history": _track_history_oracle(),
        "blocking_quality": f"""
            WITH sc AS ({_FS_SQL}),
            cand AS (SELECT l_id, r_id FROM sc WHERE l_id % 3 = 0),
            truth AS (SELECT l_id, r_id FROM sc WHERE jaccard >= 0.5),
            n AS (SELECT count(*)::DOUBLE AS cnt FROM documents),
            hits AS (SELECT count(*) AS h FROM cand c
                      WHERE EXISTS (SELECT 1 FROM truth t
                                     WHERE t.l_id = c.l_id AND t.r_id = c.r_id))
            SELECT (SELECT count(*) FROM cand) AS n_candidates,
                   (SELECT count(*) FROM truth) AS n_truth,
                   (SELECT h FROM hits) AS true_in_candidates,
                   round((SELECT h FROM hits)
                         / (SELECT count(*) FROM truth), 6)
                       AS pairs_completeness,
                   round(1.0 - (SELECT count(*) FROM cand)
                               / (SELECT cnt * (cnt - 1) / 2.0 FROM n), 6)
                       AS reduction_ratio
        """,
        "nav_cursor": """
            (SELECT 'n1_prev' AS op, doc_id, '' AS source, '' AS lang
             FROM documents WHERE doc_id < 200
             ORDER BY doc_id DESC LIMIT 1)
            UNION ALL
            (SELECT 'n2_next' AS op, doc_id, '' AS source, lang
             FROM documents WHERE lang = 'en' AND doc_id > 100
             ORDER BY doc_id LIMIT 1)
            UNION ALL
            (SELECT 'n3_goto' AS op, doc_id, source, lang
             FROM documents WHERE doc_id = 123)
        """,
        "p_review_init": """
            SELECT doc_id,
                   row_number() OVER (ORDER BY doc_id) - 1 AS pair_id,
                   '' AS rlr_label, 0 AS rlr_label_ind, '' AS rlr_note,
                   0 AS rlr_l_id_exists, 0 AS rlr_r_id_exists
            FROM documents WHERE doc_id < 50
        """,
        "u1_upsert_labels": """
            SELECT coalesce(nullif(CASE WHEN lang = 'de' THEN 'Match' ELSE '' END, ''),
                            'Unlabeled') AS label,
                   count(*) AS count
            FROM documents GROUP BY 1
        """,
        "block_domain_paircount": """
            SELECT coalesce(sum(n * (n - 1) / 2), 0)::BIGINT AS n_pairs FROM (
              SELECT count(*)::BIGINT AS n FROM documents GROUP BY source)
        """,
        "dedup_exact": """
            WITH g AS (
              SELECT md5(text) AS text_md5, min(doc_id) AS dup_group_min_id,
                     count(*) AS group_size
              FROM documents GROUP BY 1),
            docs AS (
              SELECT d.doc_id, g.group_size, g.dup_group_min_id
              FROM documents d JOIN g ON md5(d.text) = g.text_md5)
            SELECT group_size, count(*) AS n_docs, min(dup_group_min_id) AS min_rep
            FROM docs GROUP BY group_size
        """,
        "dedup_ngram": f"""
            WITH pairs AS ({_PAIR_SQL})
            SELECT l_id, r_id,
                   round(CASE WHEN len(list_distinct(list_concat({ngram_l}, {ngram_r}))) = 0
                              THEN 0.0
                              ELSE len(list_intersect({ngram_l}, {ngram_r}))::DOUBLE
                                   / len(list_distinct(list_concat({ngram_l}, {ngram_r})))::DOUBLE
                          END, 6) AS ngram_jaccard
            FROM pairs WHERE l_id % 11 = 0 AND r_id % 11 = 0
        """,
        "text_stats": f"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' OR text IS NULL THEN 0
                        ELSE len(string_split(trim(text), ' ')) END AS n_tok,
                   len(regexp_extract_all(coalesce(text, ''),
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
                   round(CASE WHEN length(regexp_replace(coalesce(text,''), '\\s', '', 'g')) = 0
                              THEN 0.0
                              ELSE length(regexp_replace(coalesce(text,''), '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                                   / length(regexp_replace(coalesce(text,''), '\\s', '', 'g'))::DOUBLE
                          END, 6) AS punct_ratio,
                   round(CASE WHEN trim(text) = '' OR text IS NULL THEN 0.0
                              ELSE len(list_filter({toks}, t -> list_contains({sw}, t)))::DOUBLE
                                   / len({toks})::DOUBLE
                          END, 6) AS stopword_ratio,
                   {fingerprint_sql('text')} AS fp
            FROM documents
        """,
        "text_lang_id": f"""
            SELECT doc_id, {lang_case} AS lang_guess FROM documents
        """,
        "emb_topk_cosine": """
            -- DOUBLE[] like the query's array<double> cast: cosine and
            -- round on FLOAT lists leave float noise past 4 places
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(q.qv, e.v) AS cs
              FROM e CROSS JOIN q),
            ranked AS (
              SELECT query_id, vec_id, round(cs, 4) AS cos_sim,
                     row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, vec_id) AS rank
              FROM scored)
            SELECT query_id, vec_id, cos_sim, rank::INTEGER AS rank
            FROM ranked WHERE rank <= 5
        """,
        # brute-force all-pairs token jaccard >= 0.8. For dedup_minhash the
        # LSH banding (b=32, r=2) must recall every such pair (verified
        # empirically across SFs); for dedup_prefix_join recall 1.0 is a
        # theorem of prefix filtering — the same exhaustive SQL checks both.
        "dedup_minhash": _BRUTE_JAC_SQL,
        "dedup_prefix_join": _BRUTE_JAC_SQL,
        "dedup_simhash": f"""
            -- independent SQL reimplementation of the md5-derived simhash64
            -- (functions/dedup.py): same token hash (first 8 md5 bytes,
            -- big-endian), same majority vote per bit; brute-force all-pairs
            -- hamming <= 3 == the banded query output (pigeonhole: hamming 3
            -- over 4 x 16-bit bands always collides in >= 1 band)
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN trim(coalesce(text, '')) = '' THEN []::VARCHAR[]
                          ELSE list_distinct(string_split(lower(trim(text)), ' ')) END AS toks
              FROM documents),
            h AS (
              SELECT doc_id, list_transform(toks, t -> md5(t)) AS hs, len(toks) AS nt
              FROM d),
            s AS (
              SELECT doc_id,
                     {_simhash_half(0)} AS lo,
                     {_simhash_half(32)} AS hi
              FROM h)
            SELECT a.doc_id AS l_id, b.doc_id AS r_id,
                   (bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)))::INTEGER AS hamming
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        """,
        "emb_ann_ivf": """
            -- independent SQL reimplementation of the IVF probe with the
            -- first-k quantizer (train_ivf_centroids n_iter=0): centroid c =
            -- the (c+1)-th smallest vec_id; assignment = argmax cosine
            -- (ties -> smallest c, as the strict > scan in _nearest_centroid);
            -- queries probe their 3 nearest cells (ties -> larger c, as the
            -- reversed array_sort in _nearest_cells); exact cosine top-5
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cent AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
              FROM e ORDER BY vec_id LIMIT 8),
            asg AS (
              SELECT vec_id, v, c AS cell FROM (
                SELECT e.vec_id, e.v, cent.c,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, cent.cv) DESC, cent.c) AS rn
                FROM e CROSS JOIN cent) WHERE rn = 1),
            qc AS (
              SELECT query_id, qv, c AS cell FROM (
                SELECT e.vec_id AS query_id, e.v AS qv, cent.c,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, cent.cv) DESC, cent.c DESC) AS rn
                FROM e CROSS JOIN cent WHERE e.vec_id < 3) WHERE rn <= 3),
            scored AS (
              SELECT qc.query_id, a.vec_id, list_cosine_similarity(qc.qv, a.v) AS cs
              FROM asg a JOIN qc ON a.cell = qc.cell),
            ranked AS (
              SELECT query_id, vec_id, round(cs, 4) AS cos_sim,
                     row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, vec_id) AS rank
              FROM scored)
            SELECT query_id, vec_id, cos_sim, rank::INTEGER AS rank
            FROM ranked WHERE rank <= 5
        """,
        "lr_linkage": """
            SELECT c.c_custkey AS l_id, s.s_suppkey AS r_id,
                   round(CASE WHEN greatest(length(substr(trim(lower(c.c_name)), 1, 60)),
                                            length(substr(trim(lower(s.s_name)), 1, 60))) = 0
                              THEN 1.0
                              ELSE 1.0 - levenshtein(substr(trim(lower(c.c_name)), 1, 60),
                                                     substr(trim(lower(s.s_name)), 1, 60))::DOUBLE
                                   / greatest(length(substr(trim(lower(c.c_name)), 1, 60)),
                                              length(substr(trim(lower(s.s_name)), 1, 60)))::DOUBLE
                          END, 6) AS name_sim
            FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
            WHERE c.c_custkey <= 300
        """,
        "em_weights": """
            -- the EM loop (scoring.estimate_mu_em, Winkler 1988) as a
            -- recursive CTE: identical init (p=.1, m=.9, u=.1), identical
            -- 20 fixed iterations over the 4-cell agreement-pattern table,
            -- identical summation order (patterns sorted (0,0)..(1,1)),
            -- identical clamping and final orientation flip
            WITH RECURSIVE d AS (
              SELECT doc_id, source, lang,
                     list_distinct(string_split(lower(trim(text)), ' ')) AS toks
              FROM documents),
            pr AS (
              SELECT CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0 THEN 0.0
                          ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
                               / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE
                      END AS jac,
                     CASE WHEN a.lang = b.lang THEN 1.0 ELSE 0.0 END AS slang
              FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id),
            pat AS (
              SELECT CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END AS a1,
                     CASE WHEN slang >= 0.5 THEN 1 ELSE 0 END AS a2,
                     count(*)::DOUBLE AS n
              FROM pr GROUP BY 1, 2),
            c AS (SELECT
              coalesce((SELECT n FROM pat WHERE a1 = 0 AND a2 = 0), 0)::DOUBLE AS n00,
              coalesce((SELECT n FROM pat WHERE a1 = 0 AND a2 = 1), 0)::DOUBLE AS n01,
              coalesce((SELECT n FROM pat WHERE a1 = 1 AND a2 = 0), 0)::DOUBLE AS n10,
              coalesce((SELECT n FROM pat WHERE a1 = 1 AND a2 = 1), 0)::DOUBLE AS n11),
            em AS (
              SELECT 0 AS iter, 0.1::DOUBLE AS p, 0.9::DOUBLE AS m1, 0.1::DOUBLE AS u1,
                     0.9::DOUBLE AS m2, 0.1::DOUBLE AS u2
              UNION ALL
              SELECT iter + 1,
                     CASE WHEN w <= 0 OR w >= tot THEN p ELSE w / tot END,
                     CASE WHEN w <= 0 OR w >= tot THEN m1
                          ELSE least(greatest((g10*n10 + g11*n11) / w, 0.000001), 1 - 0.000001) END,
                     CASE WHEN w <= 0 OR w >= tot THEN u1
                          ELSE least(greatest(((1-g10)*n10 + (1-g11)*n11) / (tot - w), 0.000001), 1 - 0.000001) END,
                     CASE WHEN w <= 0 OR w >= tot THEN m2
                          ELSE least(greatest((g01*n01 + g11*n11) / w, 0.000001), 1 - 0.000001) END,
                     CASE WHEN w <= 0 OR w >= tot THEN u2
                          ELSE least(greatest(((1-g01)*n01 + (1-g11)*n11) / (tot - w), 0.000001), 1 - 0.000001) END
              FROM (
                SELECT em.*, c.*,
                       n00 + n01 + n10 + n11 AS tot,
                       p * (1-m1) * (1-m2) AS pm00, (1-p) * (1-u1) * (1-u2) AS pu00,
                       p * (1-m1) * m2 AS pm01, (1-p) * (1-u1) * u2 AS pu01,
                       p * m1 * (1-m2) AS pm10, (1-p) * u1 * (1-u2) AS pu10,
                       p * m1 * m2 AS pm11, (1-p) * u1 * u2 AS pu11,
                       CASE WHEN pm00 + pu00 > 0 THEN pm00 / (pm00 + pu00) ELSE 0.5 END AS g00,
                       CASE WHEN pm01 + pu01 > 0 THEN pm01 / (pm01 + pu01) ELSE 0.5 END AS g01,
                       CASE WHEN pm10 + pu10 > 0 THEN pm10 / (pm10 + pu10) ELSE 0.5 END AS g10,
                       CASE WHEN pm11 + pu11 > 0 THEN pm11 / (pm11 + pu11) ELSE 0.5 END AS g11,
                       g00*n00 + g01*n01 + g10*n10 + g11*n11 AS w
                FROM em, c WHERE iter < 20) t
            ),
            fin AS (SELECT p, m1, u1, m2, u2, (m1 + m2 < u1 + u2) AS flip
                    FROM em WHERE iter = 20)
            SELECT 'sim_jaccard' AS metric,
                   round(CASE WHEN flip THEN u1 ELSE m1 END, 6) AS m,
                   round(CASE WHEN flip THEN m1 ELSE u1 END, 6) AS u,
                   round(CASE WHEN flip THEN 1 - p ELSE p END, 6) AS p_match
            FROM fin
            UNION ALL
            SELECT 'sim_lang',
                   round(CASE WHEN flip THEN u2 ELSE m2 END, 6),
                   round(CASE WHEN flip THEN m2 ELSE u2 END, 6),
                   round(CASE WHEN flip THEN 1 - p ELSE p END, 6)
            FROM fin
        """,
        "text_quality": f"""
            SELECT doc_id, {quality_expr} AS quality FROM documents
        """,
        "packet_roundtrip": """
            SELECT 'c_custkey' AS l_id_col, 's_suppkey' AS r_id_col,
                   1 AS n_groups, 2 AS n_labels, 7 AS cursor
        """,
        "decontaminate": r"""
            -- hashed-gram engine vs STRING-gram oracle: equal results
            -- prove the xxhash64 join path collision-free on this data
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN trim(coalesce(text, '')) = '' THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(trim(text), '\s+') END AS t
              FROM documents),
            grams AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 5
                          THEN list_distinct(list_transform(range(1, len(t) - 3),
                                 i -> array_to_string(list_slice(t, i, i + 4), ' ')))
                          ELSE []::VARCHAR[] END AS g
              FROM toks),
            bench_g AS (
              SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 20 = 0),
            train AS (SELECT doc_id, g FROM grams WHERE doc_id % 20 <> 0),
            expl AS (SELECT doc_id, unnest(g) AS gram FROM train),
            hits AS (
              SELECT e.doc_id, count(*)::BIGINT AS n_grams,
                     sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_overlap
              FROM expl e LEFT JOIN bench_g b USING (gram)
              GROUP BY e.doc_id)
            SELECT tr.doc_id,
                   coalesce(h.n_grams, 0)::BIGINT AS n_grams,
                   coalesce(h.n_overlap, 0)::BIGINT AS n_overlap,
                   round(CASE WHEN coalesce(h.n_grams, 0) = 0 THEN 0.0
                              ELSE h.n_overlap::DOUBLE / h.n_grams::DOUBLE END, 6) AS contamination,
                   (CASE WHEN coalesce(h.n_grams, 0) = 0 THEN 0.0
                         ELSE h.n_overlap::DOUBLE / h.n_grams::DOUBLE END) >= 0.1 AS is_contaminated
            FROM train tr LEFT JOIN hits h USING (doc_id)
        """,
        "text_repetition": r"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN trim(coalesce(text, '')) = '' THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(trim(text), '\s+') END AS t
              FROM documents),
            seg AS (SELECT doc_id, t, list_filter(t, x -> x <> '') AS s FROM toks),
            base AS (
              SELECT doc_id,
                     len(s)::INTEGER AS n_lines,
                     round(CASE WHEN len(s) = 0 THEN 0.0
                                ELSE coalesce(list_sum(list_transform(list_distinct(s),
                                       d -> CASE WHEN len(list_filter(s, x -> x = d)) > 1
                                                 THEN len(list_filter(s, x -> x = d))
                                                 ELSE 0 END)), 0)::DOUBLE / len(s)::DOUBLE
                            END, 6) AS dup_line_frac,
                     round(CASE WHEN coalesce(list_sum(list_transform(s, x -> length(x))), 0) = 0
                                THEN 0.0
                                ELSE coalesce(list_sum(list_transform(list_distinct(s),
                                       d -> CASE WHEN len(list_filter(s, x -> x = d)) > 1
                                                 THEN len(list_filter(s, x -> x = d)) * length(d)
                                                 ELSE 0 END)), 0)::DOUBLE
                                     / list_sum(list_transform(s, x -> length(x)))::DOUBLE
                            END, 6) AS dup_line_char_frac,
                     round(CASE WHEN len(t) = 0 THEN 0.0
                                ELSE len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                                     / len(t)::DOUBLE
                            END, 6) AS frac_alpha_tokens,
                     len(t) AS n_tok
              FROM seg),
            grams AS (
              SELECT doc_id, unnest(CASE WHEN len(t) >= 2
                       THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
                       ELSE []::VARCHAR[] END) AS g
              FROM toks),
            top2 AS (
              SELECT doc_id, max(c) AS top_cnt FROM (
                SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g)
              GROUP BY doc_id)
            SELECT b.doc_id, b.n_lines, b.dup_line_frac, b.dup_line_char_frac,
                   b.frac_alpha_tokens,
                   coalesce(t2.top_cnt, 0)::BIGINT AS top2gram_count,
                   round(CASE WHEN b.n_tok = 0 OR t2.top_cnt IS NULL THEN 0.0
                              ELSE 2.0 * t2.top_cnt::DOUBLE / b.n_tok::DOUBLE END, 6) AS top2gram_mass
            FROM base b LEFT JOIN top2 t2 USING (doc_id)
        """,
        "stream_neardup_replay": _BRUTE_JAC_SQL,
        "stream_entities": f"""
            WITH RECURSIVE p AS ({_BRUTE_JAC_SQL}),
            e(src, dst) AS (
              SELECT l_id, r_id FROM p
              UNION ALL
              SELECT r_id, l_id FROM p),
            walk(node, comp) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, w.comp FROM walk w JOIN e ON e.src = w.node
            )
            SELECT node AS doc_id, min(comp) AS entity_key
            FROM walk GROUP BY node
        """,
        "dedup_clusters": f"""
            -- transitive closure of the brute-force >=0.8 pair set as a
            -- recursive CTE; cluster id = min doc_id, keep = canonical
            WITH RECURSIVE p AS ({_BRUTE_JAC_SQL}),
            e(src, dst) AS (
              SELECT l_id, r_id FROM p
              UNION ALL
              SELECT r_id, l_id FROM p),
            walk(node, comp) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, w.comp FROM walk w JOIN e ON e.src = w.node),
            cl AS (SELECT node AS doc_id, min(comp) AS cluster_id
                   FROM walk GROUP BY node)
            SELECT doc_id, cluster_id, (doc_id = cluster_id) AS keep FROM cl
        """,
        "emb_ann_ivf_trained": """
            -- one Lloyd round mirrored exactly: first-8 init, strict->
            -- argmax assignment (ties -> smallest cell), per-(cell,dim)
            -- AVG update (empty cells keep init), then the n_probe=2
            -- probe over the UPDATED centroids (query ties -> larger
            -- cell, as the reversed array_sort in _nearest_cells)
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cent0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
              FROM e ORDER BY vec_id LIMIT 8),
            asg0 AS (
              SELECT vec_id, v, c AS cell FROM (
                SELECT e.vec_id, e.v, cent0.c,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, cent0.cv) DESC, cent0.c) AS rn
                FROM e CROSS JOIN cent0) WHERE rn = 1),
            upd AS (
              SELECT a.cell, d.i AS dim, avg(list_extract(a.v, d.i)) AS m
              FROM asg0 a CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
              GROUP BY a.cell, d.i),
            cent1 AS (
              SELECT c0.c, coalesce(u.vs, c0.cv) AS cv
              FROM cent0 c0 LEFT JOIN (
                SELECT cell, list(m ORDER BY dim) AS vs FROM upd GROUP BY cell) u
              ON c0.c = u.cell),
            asg1 AS (
              SELECT vec_id, v, c AS cell FROM (
                SELECT e.vec_id, e.v, cent1.c,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, cent1.cv) DESC, cent1.c) AS rn
                FROM e CROSS JOIN cent1) WHERE rn = 1),
            qc AS (
              SELECT query_id, qv, c AS cell FROM (
                SELECT e.vec_id AS query_id, e.v AS qv, cent1.c,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, cent1.cv) DESC, cent1.c DESC) AS rn
                FROM e CROSS JOIN cent1 WHERE e.vec_id < 3) WHERE rn <= 2),
            scored AS (
              SELECT qc.query_id, a.vec_id, list_cosine_similarity(qc.qv, a.v) AS cs
              FROM asg1 a JOIN qc ON a.cell = qc.cell),
            ranked AS (
              SELECT query_id, vec_id, round(cs, 4) AS cos_sim,
                     row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, vec_id) AS rank
              FROM scored)
            SELECT query_id, vec_id, cos_sim, rank::INTEGER AS rank
            FROM ranked WHERE rank <= 5
        """,
        "corpus_filter": f"""
            WITH tk AS (
              SELECT doc_id,
                     CASE WHEN trim(coalesce(text, '')) = '' THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
              FROM documents),
            rep AS (
              SELECT doc_id,
                     round(CASE WHEN len(t) = 0 THEN 0.0
                                ELSE coalesce(list_sum(list_transform(list_distinct(t),
                                       d -> CASE WHEN len(list_filter(t, x -> x = d)) > 1
                                                 THEN len(list_filter(t, x -> x = d))
                                                 ELSE 0 END)), 0)::DOUBLE / len(t)::DOUBLE
                            END, 6) AS dup_frac,
                     len(t) AS n_tok
              FROM tk),
            g2 AS (
              SELECT doc_id, unnest(CASE WHEN len(t) >= 2
                       THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
                       ELSE []::VARCHAR[] END) AS g
              FROM tk),
            top2 AS (
              SELECT doc_id, max(c) AS tc FROM (
                SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g)
              GROUP BY doc_id),
            mass AS (
              SELECT r.doc_id, r.dup_frac,
                     round(CASE WHEN r.n_tok = 0 OR t2.tc IS NULL THEN 0.0
                                ELSE 2.0 * t2.tc::DOUBLE / r.n_tok::DOUBLE END, 6) AS t2mass
              FROM rep r LEFT JOIN top2 t2 USING (doc_id)),
            base AS (
              SELECT doc_id, {quality_expr} AS q, {lang_case} AS lg FROM documents),
            pii AS (
              SELECT doc_id, ({has_pii_sql}) AS hp
              FROM (SELECT doc_id, {planted_sql} AS pt FROM documents))
            SELECT b.doc_id,
                   b.q >= 0.45 AS q_ok,
                   (m.dup_frac <= 0.6 AND m.t2mass <= 0.5) AS rep_ok,
                   b.lg = 'en' AS lang_ok,
                   NOT p.hp AS pii_ok,
                   (b.q >= 0.45 AND m.dup_frac <= 0.6 AND m.t2mass <= 0.5
                    AND b.lg = 'en' AND NOT p.hp) AS keep
            FROM base b JOIN mass m USING (doc_id) JOIN pii p USING (doc_id)
        """,
        "graph_pagerank": _pagerank_oracle(),
        "bm25_topk": _bm25_oracle(),
        "samples": _samples_oracle(),
        "events_sessionize": _sessionize_oracle(),
        "events_asof": _asof_oracle(),
        "snm_pairs": """
            -- sorted-neighborhood: within each lang, order by (n_chars,
            -- doc_id), pair each row with its next-1 and next-2 neighbors
            WITH leads AS (
              SELECT doc_id AS l_id,
                     lead(doc_id, 1) OVER w AS n1,
                     lead(doc_id, 2) OVER w AS n2
              FROM documents
              WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id))
            SELECT l_id, n1 AS r_id, 1 AS nbr_dist FROM leads WHERE n1 IS NOT NULL
            UNION ALL
            SELECT l_id, n2 AS r_id, 2 AS nbr_dist FROM leads WHERE n2 IS NOT NULL
        """,
        "text_chunks": """
            WITH toks AS (
              SELECT doc_id, string_split(trim(text), ' ') AS t
              FROM documents WHERE trim(text) <> ''),
            starts AS (
              SELECT doc_id, t,
                     unnest(range(0, len(t), 48)) AS s
              FROM toks)
            SELECT doc_id,
                   (s / 48)::BIGINT AS chunk_idx,
                   least(64, len(t) - s)::BIGINT AS n_tokens,
                   array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text
            FROM starts
        """,
        "length_quantiles": """
            SELECT lang,
                   round(quantile_cont(n_chars, 0.25), 4) AS q25,
                   round(quantile_cont(n_chars, 0.5), 4) AS q50,
                   round(quantile_cont(n_chars, 0.75), 4) AS q75,
                   round(quantile_cont(n_chars, 0.9), 4) AS q90
            FROM documents GROUP BY lang
        """,
        "vocab_stats": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS tok
              FROM documents WHERE trim(text) <> ''),
            stats AS (
              SELECT tok, count(DISTINCT doc_id)::BIGINT AS n_docs,
                     count(*)::BIGINT AS n_occ
              FROM tok GROUP BY tok),
            total AS (SELECT count(*)::DOUBLE AS n FROM documents)
            SELECT tok, n_docs, n_occ,
                   round(ln(total.n / n_docs::DOUBLE), 6) AS idf
            FROM stats, total
            ORDER BY n_docs DESC, tok
            LIMIT 50
        """,
        "text_bigram_lm": _BIGRAM_SQL,
        "pack_sequences": """
            WITH base AS (
              SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard,
                     CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                          ELSE len(string_split(trim(text), ' ')) END::BIGINT AS n_tokens
              FROM documents),
            off AS (
              SELECT doc_id, shard, n_tokens,
                     coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_off
              FROM base)
            SELECT doc_id, shard, n_tokens, start_off,
                   floor(start_off / 512.0)::BIGINT AS first_seq,
                   greatest(floor(start_off / 512.0)::BIGINT,
                            floor((start_off + n_tokens - 1) / 512.0)::BIGINT) AS last_seq
            FROM off
        """,
        "entity_golden": f"""
            WITH RECURSIVE sc AS ({_FS_SQL}),
            e(src, dst) AS (
              SELECT l_id, r_id FROM sc WHERE rlr_label = 'Match'
              UNION ALL
              SELECT r_id, l_id FROM sc WHERE rlr_label = 'Match'),
            walk(node, comp) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, w.comp FROM walk w JOIN e ON e.src = w.node
            ),
            assign AS (
              SELECT node AS doc_id, min(comp) AS entity_id
              FROM walk GROUP BY node),
            m AS (
              SELECT a.entity_id, d.doc_id, d.text, d.lang, d.n_chars
              FROM assign a JOIN documents d USING (doc_id)),
            lang_counts AS (
              SELECT entity_id, lang, count(*) AS n
              FROM m GROUP BY entity_id, lang),
            lang_mode AS (
              SELECT entity_id, lang AS lang_golden FROM (
                SELECT entity_id, lang,
                       row_number() OVER (PARTITION BY entity_id
                                          ORDER BY n DESC, lang ASC) AS rk
                FROM lang_counts) WHERE rk = 1),
            text_pick AS (
              SELECT entity_id, text AS text_golden FROM (
                SELECT entity_id, text,
                       row_number() OVER (PARTITION BY entity_id
                                          ORDER BY n_chars DESC, doc_id ASC) AS rk
                FROM m) WHERE rk = 1)
            SELECT min(m.doc_id) AS entity_key,
                   count(*)::BIGINT AS n_members,
                   any_value(tp.text_golden) AS text_golden,
                   any_value(lm.lang_golden) AS lang_golden
            FROM m
            JOIN lang_mode lm USING (entity_id)
            JOIN text_pick tp USING (entity_id)
            GROUP BY m.entity_id
        """,
        "cc_clusters": f"""
            WITH RECURSIVE sc AS ({_FS_SQL}),
            e(src, dst) AS (
              SELECT l_id, r_id FROM sc WHERE rlr_label = 'Match'
              UNION ALL
              SELECT r_id, l_id FROM sc WHERE rlr_label = 'Match'),
            walk(node, comp) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, w.comp FROM walk w JOIN e ON e.src = w.node
            )
            SELECT node AS doc_id, min(comp) AS entity_id
            FROM walk GROUP BY node
        """,
        # independent SQL meta-blocking: STRING 3-shingles (the Spark side
        # blocks on xxhash64 shingle identities — equal membership modulo
        # 64-bit collisions, which would fail this check loudly), purge to
        # 2..64, CBS weights, WNP-or pruning. CBS weights are small exact
        # integers in double, so the >= threshold compare is cross-engine
        # deterministic.
        "meta_blocking": """
            WITH tl AS (
              SELECT doc_id, string_split(trim(lower(text)), ' ') AS ts
              FROM documents),
            sh AS (
              SELECT doc_id, unnest(CASE WHEN len(ts) >= 3
                THEN list_distinct(list_transform(range(1, len(ts) - 1),
                       i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]))
                ELSE [array_to_string(ts, ' ')] END) AS bk
              FROM tl),
            bs AS (SELECT bk, count(*) AS nb FROM sh GROUP BY bk),
            posts AS (
              SELECT sh.doc_id, sh.bk FROM sh JOIN bs USING (bk)
              WHERE nb BETWEEN 2 AND 64),
            co AS (
              SELECT a.doc_id AS l_id, b.doc_id AS r_id,
                     count(*)::DOUBLE AS w
              FROM posts a JOIN posts b USING (bk)
              WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
            thr AS (
              SELECT node, avg(w) AS t FROM (
                SELECT l_id AS node, w FROM co
                UNION ALL SELECT r_id, w FROM co)
              GROUP BY node)
            SELECT co.l_id, co.r_id, round(co.w, 6) AS weight
            FROM co
            JOIN thr nl ON nl.node = co.l_id
            JOIN thr nr ON nr.node = co.r_id
            WHERE co.w >= nl.t OR co.w >= nr.t
        """,
        # Monge-Elkan with DuckDB's jaro_winkler_similarity as the inner
        # comparator (bit-identical to functions/similarity.jaro_winkler_py
        # — the c2 parity); left positions keep token multiplicity
        "monge_elkan": f"""
            WITH p AS (
              SELECT l_id, r_id, l_text, r_text FROM ({_PAIR_SQL})
              WHERE l_id % 7 = 0 AND r_id % 7 = 0
                AND trim(l_text) <> '' AND trim(r_text) <> ''),
            t AS (
              SELECT l_id, r_id,
                     string_split(trim(lower(l_text)), ' ')[1:8] AS la,
                     string_split(trim(lower(r_text)), ' ')[1:8] AS ra
              FROM p),
            lx AS (
              SELECT l_id, r_id, la, ra,
                     unnest(range(1, len(la) + 1)) AS pos
              FROM t),
            cx AS (
              SELECT l_id, r_id, pos, la[pos] AS a, unnest(ra) AS b
              FROM lx),
            best AS (
              SELECT l_id, r_id, pos,
                     max(jaro_winkler_similarity(a, b)) AS bst
              FROM cx GROUP BY l_id, r_id, pos)
            SELECT l_id, r_id, round(avg(bst), 6) AS monge_elkan
            FROM best GROUP BY l_id, r_id
        """,
        # DSIR: identical md5 bucket hash, Laplace-smoothed bucket LLRs,
        # Gumbel key from the same 'dsir:'-salted unit hash; ordered on the
        # UNROUNDED key exactly like functions/sampling.dsir_sample
        "dsir_sample": f"""
            WITH tok AS (
              SELECT doc_id, source,
                     unnest(string_split(trim(lower(text)), ' ')) AS tok
              FROM documents WHERE trim(lower(text)) <> ''),
            bt AS (
              SELECT doc_id, source,
                     ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS b
              FROM tok WHERE tok <> ''),
            model AS (
              SELECT b, count(*)::DOUBLE AS cr,
                     sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::DOUBLE AS ct
              FROM bt GROUP BY b),
            tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM model),
            llr AS (
              SELECT b, ln((ct + 1.0) / (nt + 64.0))
                      - ln((cr + 1.0) / (nr + 64.0)) AS llr
              FROM model, tot),
            per AS (SELECT doc_id, b, count(*)::BIGINT AS cnt
                    FROM bt GROUP BY doc_id, b),
            w AS (
              SELECT doc_id, sum(cnt)::BIGINT AS n_feats,
                     sum(cnt * llr) AS lw
              FROM per JOIN llr USING (b) GROUP BY doc_id),
            keyed AS (
              SELECT doc_id, n_feats, lw,
                     lw - ln(-ln((('0x' || substr(md5('dsir:' || doc_id::VARCHAR), 1, 8))::BIGINT + 1.0)
                                 / {float(2**32 + 2)})) AS k
              FROM w)
            SELECT doc_id, n_feats, round(lw, 6) AS log_weight,
                   round(k, 6) AS samp_key
            FROM keyed
            ORDER BY k DESC, doc_id
            LIMIT 100
        """,
        # TF-adjusted FS: identical per-field frequency tables (share of
        # ALL records), identical clamps, log2 ratio on agreement, the
        # field-level disagreement weight otherwise
        "fs_tf_score": f"""
            WITH n AS (SELECT count(*)::DOUBLE AS n FROM documents),
            recs AS (
              SELECT doc_id,
                     array_to_string(string_split(trim(lower(text)), ' ')[1:2], ' ') AS name,
                     lang
              FROM documents),
            ntf AS (
              SELECT lower(trim(name)) AS v, count(*)::DOUBLE / n.n AS tf
              FROM recs, n WHERE name IS NOT NULL GROUP BY 1, n.n),
            ltf AS (
              SELECT lower(trim(lang)) AS v, count(*)::DOUBLE / n.n AS tf
              FROM recs, n WHERE lang IS NOT NULL GROUP BY 1, n.n),
            p AS (
              SELECT l_id, r_id,
                     array_to_string(string_split(trim(lower(l_text)), ' ')[1:2], ' ') AS l_name,
                     array_to_string(string_split(trim(lower(r_text)), ' ')[1:2], ' ') AS r_name,
                     l_lang, r_lang
              FROM ({_PAIR_SQL}) WHERE l_id % 5 = 0 AND r_id % 5 = 0)
            SELECT l_id, r_id, round(
              (CASE WHEN l_name IS NOT NULL AND r_name IS NOT NULL
                      AND lower(trim(l_name)) = lower(trim(r_name))
                THEN log2(0.95 / least(greatest(coalesce(ntf.tf, 1.0), 1e-6), 1 - 1e-6))
                ELSE log2((1 - 0.95) / (1 - 0.05)) END)
              + (CASE WHEN l_lang IS NOT NULL AND r_lang IS NOT NULL
                        AND lower(trim(l_lang)) = lower(trim(r_lang))
                THEN log2(0.9 / least(greatest(coalesce(ltf.tf, 1.0), 1e-6), 1 - 1e-6))
                ELSE log2((1 - 0.9) / (1 - 0.3)) END), 6) AS fs_score_tf
            FROM p
            LEFT JOIN ntf ON lower(trim(p.l_name)) = ntf.v
            LEFT JOIN ltf ON lower(trim(p.l_lang)) = ltf.v
        """,
        # B-cubed of the recursive-CTE connected components vs exact
        # (md5 text) duplicate truth — same aggregate collapse as
        # operators/evaluate.bcubed
        "cluster_bcubed": f"""
            WITH RECURSIVE sc AS ({_FS_SQL}),
            e(src, dst) AS (
              SELECT l_id, r_id FROM sc WHERE rlr_label = 'Match'
              UNION ALL
              SELECT r_id, l_id FROM sc WHERE rlr_label = 'Match'),
            walk(node, comp) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, w.comp FROM walk w JOIN e ON e.src = w.node),
            pred AS (SELECT node AS id, min(comp) AS c FROM walk GROUP BY node),
            tr AS (
              SELECT doc_id AS id,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS t
              FROM documents),
            bo AS (SELECT pred.id, c, t FROM pred JOIN tr USING (id)),
            nct AS (SELECT c, t, count(*)::DOUBLE AS nct FROM bo GROUP BY c, t),
            nc AS (SELECT c, count(*)::DOUBLE AS nc FROM bo GROUP BY c),
            nt AS (SELECT t, count(*)::DOUBLE AS nt FROM bo GROUP BY t),
            agg AS (
              SELECT sum(nct * nct / nc) AS sp, sum(nct * nct / nt) AS sr,
                     sum(nct)::BIGINT AS n
              FROM nct JOIN nc USING (c) JOIN nt USING (t))
            SELECT n AS n_records,
                   round(sp / n, 6) AS bcubed_precision,
                   round(sr / n, 6) AS bcubed_recall,
                   round(2 * (sp / n) * (sr / n) / ((sp / n) + (sr / n)), 6) AS bcubed_f1
            FROM agg
        """,
        # iterated mutual-best 1:1 (operators/matching.py): round 1 =
        # pairs that are row_number-1 for BOTH endpoints (score desc,
        # partner asc tie-break); round 2 = same over the remainder
        # after excluding matched endpoints per side
        "group_links": """
            WITH d AS (
              SELECT doc_id, source, lang,
                     list_distinct(string_split(lower(trim(text)), ' ')) AS toks
              FROM documents),
            l AS (SELECT doc_id AS l_id, source AS l_group, lang, toks
                  FROM d WHERE doc_id % 2 = 0),
            r AS (SELECT doc_id AS r_id, source AS r_group, lang, toks
                  FROM d WHERE doc_id % 2 = 1),
            kept AS (
              SELECT l_group, r_group, l_id, r_id, score FROM (
                SELECT l_group, r_group, l_id, r_id,
                       round(CASE WHEN len(list_distinct(list_concat(l.toks, r.toks))) = 0
                             THEN 0.0
                             ELSE len(list_intersect(l.toks, r.toks))::DOUBLE
                                  / len(list_distinct(list_concat(l.toks, r.toks)))::DOUBLE
                             END, 6) AS score
                FROM l JOIN r USING (lang))
              WHERE score >= 0.2),
            m AS (
              SELECT *,
                row_number() OVER (PARTITION BY l_group, r_group, l_id
                                   ORDER BY score DESC, r_id ASC) AS rl,
                row_number() OVER (PARTITION BY l_group, r_group, r_id
                                   ORDER BY score DESC, l_id ASC) AS rr
              FROM kept),
            mm AS (SELECT * FROM m WHERE rl = 1 AND rr = 1),
            agg AS (SELECT l_group, r_group, count(*)::BIGINT AS n_matched,
                           avg(score) AS avgs
                    FROM mm GROUP BY l_group, r_group),
            lsz AS (SELECT l_group, count(*)::BIGINT AS szl FROM l GROUP BY l_group),
            rsz AS (SELECT r_group, count(*)::BIGINT AS szr FROM r GROUP BY r_group)
            SELECT agg.l_group, agg.r_group, n_matched,
                   round(n_matched / (szl + szr - n_matched), 6) AS group_sim
            FROM agg JOIN lsz USING (l_group) JOIN rsz USING (r_group)
        """,
        "fs_patterns": _fs_patterns_oracle(),
        "cluster_ari": f"""
            WITH RECURSIVE sc AS ({_FS_SQL}),
            e(src, dst) AS (
              SELECT l_id, r_id FROM sc WHERE rlr_label = 'Match'
              UNION ALL
              SELECT r_id, l_id FROM sc WHERE rlr_label = 'Match'),
            walk(node, comp) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, w.comp FROM walk w JOIN e ON e.src = w.node),
            pred AS (SELECT node AS id, min(comp) AS c FROM walk GROUP BY node),
            tr AS (
              SELECT doc_id AS id,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS t
              FROM documents),
            bo AS (SELECT pred.id, c, t FROM pred JOIN tr USING (id)),
            nct AS (SELECT c, t, count(*)::BIGINT AS nct FROM bo GROUP BY c, t),
            sums AS (SELECT sum(nct * (nct - 1)) / 2 AS sct,
                            sum(nct)::BIGINT AS n FROM nct),
            sa AS (SELECT sum(nc * (nc - 1)) / 2 AS sa FROM (
                     SELECT sum(nct) AS nc FROM nct GROUP BY c)),
            sb AS (SELECT sum(nt * (nt - 1)) / 2 AS sb FROM (
                     SELECT sum(nct) AS nt FROM nct GROUP BY t))
            SELECT n AS n_records,
                   round(coalesce(
                     (sct - sa * sb / (n * (n - 1) / 2.0))
                     / nullif((sa + sb) / 2.0 - sa * sb / (n * (n - 1) / 2.0), 0),
                     1.0), 6) AS ari
            FROM sums, sa, sb
        """,
        "match_one_to_one": f"""
            WITH sc AS (
              SELECT l_id, r_id, jaccard FROM ({_FS_SQL}) WHERE jaccard > 0),
            r1 AS (
              SELECT l_id, r_id, jaccard,
                row_number() OVER (PARTITION BY l_id ORDER BY jaccard DESC, r_id ASC) AS rl,
                row_number() OVER (PARTITION BY r_id ORDER BY jaccard DESC, l_id ASC) AS rr
              FROM sc),
            m1 AS (SELECT l_id, r_id, jaccard FROM r1 WHERE rl = 1 AND rr = 1),
            rem AS (
              SELECT * FROM sc
              WHERE l_id NOT IN (SELECT l_id FROM m1)
                AND r_id NOT IN (SELECT r_id FROM m1)),
            r2 AS (
              SELECT l_id, r_id, jaccard,
                row_number() OVER (PARTITION BY l_id ORDER BY jaccard DESC, r_id ASC) AS rl,
                row_number() OVER (PARTITION BY r_id ORDER BY jaccard DESC, l_id ASC) AS rr
              FROM rem),
            m2 AS (SELECT l_id, r_id, jaccard FROM r2 WHERE rl = 1 AND rr = 1)
            SELECT l_id, r_id, jaccard, 1 AS match_round FROM m1
            UNION ALL
            SELECT l_id, r_id, jaccard, 2 AS match_round FROM m2
        """,
        # multi-pass waterfall (operators/matching.py): union of
        # pass-tagged candidates, one window per left endpoint ordered
        # (pass_rank asc, score desc, r_id asc)
        "linkage_waterfall": f"""
            WITH exact AS (
              SELECT a.doc_id AS l_id, b.doc_id AS r_id, 1.0::DOUBLE AS score,
                     'exact_text' AS pass_name, 1 AS pass_rank
              FROM documents a JOIN documents b
                ON a.source = b.source AND a.doc_id < b.doc_id
               AND md5(a.text) = md5(b.text)),
            fuzzy AS (
              SELECT l_id, r_id, jaccard AS score,
                     'jaccard_0.3' AS pass_name, 2 AS pass_rank
              FROM ({_FS_SQL}) WHERE jaccard >= 0.3),
            u AS (SELECT * FROM exact UNION ALL SELECT * FROM fuzzy),
            rn AS (
              SELECT *, row_number() OVER (
                PARTITION BY l_id
                ORDER BY pass_rank ASC, score DESC, r_id ASC) AS rn
              FROM u)
            SELECT l_id, r_id, score, pass_name, pass_rank FROM rn WHERE rn = 1
        """,
        "tfidf_cosine": _tfidf_cosine_oracle(),
        "phonetic_blocks": _phonetic_blocks_oracle(),
        # true Damerau-Levenshtein (functions/similarity.py) — DuckDB's
        # damerau_levenshtein is the same unrestricted Lowrance-Wagner
        # distance (verified CA->ABC = 2, not OSA's 3); cap BEFORE
        # trim/lower mirrors damerau_sim exactly. ASCII corpus, so
        # DuckDB's byte-wise len == the UDF's codepoint len.
        "c2_damerau": """
            WITH p AS (
              SELECT a.doc_id AS l_id, b.doc_id AS r_id,
                     lower(trim(substring(a.text, 1, 64))) AS la,
                     lower(trim(substring(b.text, 1, 64))) AS lb
              FROM documents a JOIN documents b
                ON a.source = b.source AND a.doc_id < b.doc_id
              WHERE a.doc_id % 11 = 0 AND b.doc_id % 11 = 0)
            SELECT l_id, r_id,
                   round(CASE WHEN greatest(len(la), len(lb)) = 0 THEN 1.0
                         ELSE 1.0 - damerau_levenshtein(la, lb)::DOUBLE
                                    / greatest(len(la), len(lb))::DOUBLE
                         END, 6) AS damerau_sim
            FROM p
        """,
        # unique-unique rule cascade (operators/matching.py): per pass,
        # keys unique among STILL-UNMATCHED records on both sides link;
        # matched ids leave both pools before the next (looser) pass
        "link_cascade": """
            WITH l0 AS (
              SELECT c_custkey AS id,
                     c_nationkey || '|' || substring(c_name, -2, 2) AS k1,
                     substring(c_name, -2, 2) AS k2,
                     c_nationkey::VARCHAR AS k3
              FROM customer),
            r0 AS (
              SELECT s_suppkey AS id,
                     s_nationkey || '|' || substring(s_name, -2, 2) AS k1,
                     substring(s_name, -2, 2) AS k2,
                     s_nationkey::VARCHAR AS k3
              FROM supplier),
            lu1 AS (SELECT k1, min(id) AS id FROM l0 WHERE k1 IS NOT NULL
                    GROUP BY k1 HAVING count(*) = 1),
            ru1 AS (SELECT k1, min(id) AS id FROM r0 WHERE k1 IS NOT NULL
                    GROUP BY k1 HAVING count(*) = 1),
            m1 AS (SELECT lu1.id AS l_id, ru1.id AS r_id,
                          'nat_sfx' AS pass_name, 1 AS pass_rank
                   FROM lu1 JOIN ru1 USING (k1)),
            l1 AS (SELECT * FROM l0 WHERE id NOT IN (SELECT l_id FROM m1)),
            r1 AS (SELECT * FROM r0 WHERE id NOT IN (SELECT r_id FROM m1)),
            lu2 AS (SELECT k2, min(id) AS id FROM l1 WHERE k2 IS NOT NULL
                    GROUP BY k2 HAVING count(*) = 1),
            ru2 AS (SELECT k2, min(id) AS id FROM r1 WHERE k2 IS NOT NULL
                    GROUP BY k2 HAVING count(*) = 1),
            m2 AS (SELECT lu2.id AS l_id, ru2.id AS r_id,
                          'sfx' AS pass_name, 2 AS pass_rank
                   FROM lu2 JOIN ru2 USING (k2)),
            l2 AS (SELECT * FROM l1 WHERE id NOT IN (SELECT l_id FROM m2)),
            r2 AS (SELECT * FROM r1 WHERE id NOT IN (SELECT r_id FROM m2)),
            lu3 AS (SELECT k3, min(id) AS id FROM l2 WHERE k3 IS NOT NULL
                    GROUP BY k3 HAVING count(*) = 1),
            ru3 AS (SELECT k3, min(id) AS id FROM r2 WHERE k3 IS NOT NULL
                    GROUP BY k3 HAVING count(*) = 1),
            m3 AS (SELECT lu3.id AS l_id, ru3.id AS r_id,
                          'nat' AS pass_name, 3 AS pass_rank
                   FROM lu3 JOIN ru3 USING (k3))
            SELECT * FROM m1 UNION ALL SELECT * FROM m2
            UNION ALL SELECT * FROM m3
        """,
        # NULL-aware three-level FS (operators/scoring.py): missing
        # similarity -> gamma -1, weight 0; thresholds on the UNROUNDED
        # jaccard, same as the Spark side
        "fs_null_levels": f"""
            WITH d AS (
              SELECT doc_id, source, lang,
                     list_distinct(string_split(lower(trim(text)), ' ')) AS toks
              FROM documents),
            p AS (
              SELECT a.doc_id AS l_id, b.doc_id AS r_id,
                     a.lang AS ll, b.lang AS rl, a.toks AS lt, b.toks AS rt
              FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
              WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 = 0),
            s AS (
              SELECT l_id, r_id,
                CASE WHEN l_id % 5 = 0 OR r_id % 5 = 0 THEN NULL
                     WHEN len(list_distinct(list_concat(lt, rt))) = 0 THEN 0.0
                     ELSE len(list_intersect(lt, rt))::DOUBLE
                          / len(list_distinct(list_concat(lt, rt)))::DOUBLE
                END AS jac,
                CASE WHEN l_id % 3 = 0 OR r_id % 3 = 0 THEN NULL
                     WHEN ll = rl THEN 1.0 ELSE 0.0 END AS le
              FROM p)
            SELECT l_id, r_id,
              CASE WHEN jac IS NULL THEN -1 WHEN jac >= 0.5 THEN 2 ELSE 0
                END AS gamma_jac,
              CASE WHEN le IS NULL THEN -1 WHEN le >= 0.5 THEN 2 ELSE 0
                END AS gamma_lang_eq,
              round(CASE WHEN jac IS NULL THEN 0.0
                         WHEN jac >= 0.5 THEN {_W1_A} ELSE {_W1_D} END
                  + CASE WHEN le IS NULL THEN 0.0
                         WHEN le >= 0.5 THEN {_W2_A} ELSE {_W2_D} END,
                    6) AS fs_score
            FROM s
        """,
        # V-measure family (operators/evaluate.py): entropies as
        # sum(n ln n) folds over the ONE contingency table; natural log
        # so the base cancels in the ratios
        "cluster_vmeasure": f"""
            WITH RECURSIVE sc AS ({_FS_SQL}),
            e(src, dst) AS (
              SELECT l_id, r_id FROM sc WHERE rlr_label = 'Match'
              UNION ALL
              SELECT r_id, l_id FROM sc WHERE rlr_label = 'Match'),
            walk(node, comp) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, w.comp FROM walk w JOIN e ON e.src = w.node),
            pred AS (SELECT node AS id, min(comp) AS c FROM walk GROUP BY node),
            tr AS (
              SELECT doc_id AS id,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS t
              FROM documents),
            bo AS (SELECT pred.id, c, t FROM pred JOIN tr USING (id)),
            nct AS (SELECT c, t, count(*)::BIGINT AS nct FROM bo GROUP BY c, t),
            core AS (SELECT sum(nct * ln(nct::DOUBLE)) AS sct,
                            sum(nct)::BIGINT AS n FROM nct),
            byc AS (SELECT sum(nc * ln(nc)) AS sc2, sum(maj)::DOUBLE AS majority
                    FROM (SELECT sum(nct)::DOUBLE AS nc, max(nct) AS maj
                          FROM nct GROUP BY c)),
            byt AS (SELECT sum(nt * ln(nt)) AS st FROM (
                      SELECT sum(nct)::DOUBLE AS nt FROM nct GROUP BY t)),
            f AS (
              SELECT n,
                1 - coalesce((sc2 - sct) / n
                             / nullif(ln(n::DOUBLE) - st / n, 0), 0) AS hom,
                1 - coalesce((st - sct) / n
                             / nullif(ln(n::DOUBLE) - sc2 / n, 0), 0) AS com,
                majority / n AS pur
              FROM core, byc, byt)
            SELECT n AS n_records,
                   round(hom, 6) AS homogeneity,
                   round(com, 6) AS completeness,
                   round(coalesce(2 * hom * com / nullif(hom + com, 0), 0),
                         6) AS v_measure,
                   round(pur, 6) AS purity
            FROM f
        """,
        # CLK Bloom-filter PPRL (functions/ppl.py): identical position
        # hashing rebuilt in SQL (md5 tail byte % 64, k=4 per bigram)
        "clk_dice": _clk_dice_oracle(),
        # Soft TF-IDF (functions/tfidf.py): DuckDB's
        # jaro_winkler_similarity is bit-identical to the repo's UDF;
        # best-partner ties broken by max weight in BOTH engines
        "soft_tfidf": """
            WITH dd AS (
              SELECT doc_id AS id,
                     list_distinct((string_split(lower(trim(text)), ' '))[1:6]) AS ts
              FROM documents),
            n AS (SELECT count(*)::DOUBLE AS nd FROM documents),
            tok AS (SELECT id, unnest(ts) AS tok FROM dd),
            idf AS (
              SELECT tok, ln((nd + 1) / (count(*) + 1)) + 1.0 AS idf
              FROM tok, n GROUP BY tok, nd),
            w AS (SELECT id, tok.tok, idf FROM tok JOIN idf USING (tok)),
            nrm AS (SELECT id, sqrt(sum(idf * idf)) AS nn FROM w GROUP BY id),
            v AS (SELECT w.id, tok, idf / nn AS v FROM w JOIN nrm USING (id)),
            p AS (
              SELECT a.doc_id AS l_id, b.doc_id AS r_id
              FROM documents a JOIN documents b
                ON a.source = b.source AND a.doc_id < b.doc_id
              WHERE a.doc_id % 11 = 0 AND b.doc_id % 11 = 0),
            cx AS (
              SELECT p.l_id, p.r_id, lv.tok AS lt, lv.v AS lvw,
                     rv.v AS rvw,
                     jaro_winkler_similarity(lv.tok, rv.tok) AS jw
              FROM p JOIN v lv ON lv.id = p.l_id
                     JOIN v rv ON rv.id = p.r_id),
            cl AS (
              SELECT l_id, r_id, lt, lvw, max(jw) AS m
              FROM cx GROUP BY l_id, r_id, lt, lvw
              HAVING max(jw) >= 0.9),
            sel AS (
              SELECT cl.l_id, cl.r_id, cl.lt, cl.lvw, cl.m,
                     max(cx.rvw) AS rvb
              FROM cl JOIN cx ON cx.l_id = cl.l_id AND cx.r_id = cl.r_id
                              AND cx.lt = cl.lt AND cx.jw = cl.m
              GROUP BY cl.l_id, cl.r_id, cl.lt, cl.lvw, cl.m),
            sc AS (
              SELECT l_id, r_id, sum(lvw * rvb * m) AS s
              FROM sel GROUP BY l_id, r_id)
            SELECT p.l_id, p.r_id,
                   round(coalesce(s, 0.0), 6) AS soft_tfidf
            FROM p LEFT JOIN sc ON sc.l_id = p.l_id AND sc.r_id = p.r_id
        """,
        # Adamic-Adar (functions/graph.py): distinct bipartite edges ->
        # inverse-log degree weights -> wedge self-join on the supplier
        "graph_adamic_adar": """
            WITH e AS (
              SELECT DISTINCT o_custkey AS u, l_suppkey AS s
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              WHERE o_custkey <= 200),
            deg AS (
              SELECT s, 1.0 / ln(count(*)::DOUBLE) AS w
              FROM e GROUP BY s HAVING count(*) >= 2)
            SELECT a.u AS l_id, b.u AS r_id, round(sum(w), 6) AS aa
            FROM e a JOIN e b ON a.s = b.s AND a.u < b.u
                 JOIN deg ON deg.s = a.s
            GROUP BY a.u, b.u
        """,
        # token-sort ratio (functions/similarity.py): sort-join-edit;
        # DuckDB levenshtein is parity-verified, list_sort on ASCII
        # tokens matches Spark's UTF8-binary array_sort
        "token_sort": """
            WITH d AS (
              SELECT doc_id, source,
                     array_to_string(list_sort(
                       (string_split(lower(trim(text)), ' '))[1:32]), ' ') AS st
              FROM documents),
            p AS (
              SELECT a.doc_id AS l_id, b.doc_id AS r_id, a.st AS ls, b.st AS rs
              FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
              WHERE a.doc_id % 11 = 0 AND b.doc_id % 11 = 0)
            SELECT l_id, r_id,
                   round(CASE WHEN greatest(len(ls), len(rs)) = 0 THEN 1.0
                         ELSE 1.0 - levenshtein(ls, rs)::DOUBLE
                                    / greatest(len(ls), len(rs))::DOUBLE
                         END, 6) AS token_sort_sim
            FROM p
        """,
        # cluster stability (operators/evaluate.py): one recursive CC
        # walk tagged by threshold; empty-edge thresholds keep a zero
        # row via the LEFT JOIN from the threshold list
        "cluster_stability": f"""
            WITH RECURSIVE sc AS ({_FS_SQL}),
            th(t) AS (SELECT unnest([0.0, 5.0, 8.0]::DOUBLE[])),
            e(t, src, dst) AS (
              SELECT t, l_id, r_id FROM sc, th WHERE fs_score >= t
              UNION ALL
              SELECT t, r_id, l_id FROM sc, th WHERE fs_score >= t),
            nodes AS (SELECT DISTINCT t, src AS n FROM e),
            walk(t, node, comp) AS (
              SELECT t, n, n FROM nodes
              UNION
              SELECT e.t, e.dst, w.comp
              FROM walk w JOIN e ON e.t = w.t AND e.src = w.node),
            comp AS (SELECT t, node, min(comp) AS c FROM walk GROUP BY t, node),
            sizes AS (
              SELECT t, c, count(*)::BIGINT AS sz
              FROM comp GROUP BY t, c HAVING count(*) >= 2),
            agg AS (
              SELECT t, count(*)::BIGINT AS ne, sum(sz)::BIGINT AS nl,
                     max(sz) AS mx
              FROM sizes GROUP BY t)
            SELECT th.t AS threshold,
                   coalesce(ne, 0)::BIGINT AS n_entities,
                   coalesce(nl, 0)::BIGINT AS n_linked_records,
                   coalesce(mx, 0)::BIGINT AS max_cluster_size
            FROM th LEFT JOIN agg ON agg.t = th.t
        """,
        # numeric tolerance gamma (functions/similarity.py): identical
        # IEEE double arithmetic in both engines
        "c2_numeric": """
            SELECT c_custkey AS l_id, s_suppkey AS r_id,
                   CASE WHEN c_acctbal IS NULL OR s_acctbal IS NULL THEN -1
                        WHEN abs(c_acctbal - s_acctbal) <= 100.0 THEN 2
                        WHEN abs(c_acctbal - s_acctbal)
                             / greatest(abs(c_acctbal), abs(s_acctbal)) <= 0.2
                          THEN 1
                        ELSE 0 END AS gamma_bal
            FROM customer JOIN supplier ON c_nationkey = s_nationkey
            WHERE c_custkey <= 300
        """,
        # transitivity audit (operators/evaluate.py): matched wedges
        # whose closing pair scores below threshold or was never paired
        "transitivity_audit": f"""
            WITH sc AS ({_FS_SQL}),
            m AS (SELECT l_id, r_id FROM sc WHERE fs_score >= 4.0),
            h AS (SELECT l_id AS a, r_id AS v FROM m
                  UNION ALL SELECT r_id, l_id FROM m),
            w AS (
              SELECT x.a AS u, y.a AS w2, count(*)::BIGINT AS nw
              FROM h x JOIN h y ON x.v = y.v AND x.a < y.a
              GROUP BY x.a, y.a),
            nv AS (
              SELECT u, w2, nw FROM w
              WHERE NOT EXISTS (
                SELECT 1 FROM m WHERE m.l_id = w.u AND m.r_id = w.w2))
            SELECT nv.u AS l_id, nv.w2 AS r_id, nv.nw AS n_witnesses,
                   round(s.fs_score, 6) AS pair_score
            FROM nv LEFT JOIN sc s ON s.l_id = nv.u AND s.r_id = nv.w2
        """,
        # unlinkables curve (operators/evaluate.py): per-record best FS
        # score; blocking orphans surface as the NULLS FIRST bucket
        "unlinkables": f"""
            WITH sc AS ({_FS_SQL}),
            sides AS (
              SELECT l_id AS id, fs_score AS s FROM sc
              UNION ALL
              SELECT r_id AS id, fs_score AS s FROM sc),
            best AS (SELECT id, max(s) AS b FROM sides GROUP BY id),
            per AS (
              -- ::DOUBLE: the FS weight literals parse as DECIMAL in
              -- DuckDB, and a scale-1 DECIMAL stringifies as '-2.7'
              -- where the Spark double norms to '-2.700000'
              SELECT round(b, 1)::DOUBLE AS best_score
              FROM documents LEFT JOIN best ON documents.doc_id = best.id),
            bk AS (SELECT best_score, count(*)::BIGINT AS n_records
                   FROM per GROUP BY best_score),
            tot AS (SELECT sum(n_records)::DOUBLE AS t FROM bk)
            SELECT best_score, n_records,
                   round(n_records / t, 6) AS prop,
                   round(sum(n_records) OVER (
                       ORDER BY best_score ASC NULLS FIRST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) / t, 6) AS cum_prop
            FROM bk, tot
        """,
        "ppl_buckets": f"""
            WITH lp AS ({_BIGRAM_SQL}),
            th AS (SELECT quantile_cont(avg_logprob2, 1.0/3) AS t_lo,
                          quantile_cont(avg_logprob2, 2.0/3) AS t_hi
                   FROM lp)
            SELECT doc_id, n_bigrams, avg_logprob2,
                   CASE WHEN avg_logprob2 >= t_hi THEN 'head'
                        WHEN avg_logprob2 >= t_lo THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM lp, th
        """,
    }
