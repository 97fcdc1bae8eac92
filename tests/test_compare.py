import math

import pytest
from pyspark.sql import functions as F

from rlr_spark.datagen import VAR_SCHEMA_FIRM, generate_firm_fixtures
from rlr_spark.functions.similarity import jaro_winkler_py, token_jaccard, levenshtein_sim
from rlr_spark.operators.compare import comparison_vectors, text_pair_similarity


def test_token_jaccard(spark):
    df = spark.createDataFrame(
        [
            ("a b c", "a b c", 1.0),
            ("a b c d", "c d e f", 2.0 / 6.0),
            ("", "", 0.0),
            ("x", "y", 0.0),
            ("A  B", "a b", 1.0),  # case/whitespace normalization
        ],
        "l string, r string, want double",
    )
    rows = df.withColumn("got", token_jaccard(F.col("l"), F.col("r"))).collect()
    for r in rows:
        assert math.isclose(r.got, r.want, abs_tol=1e-9), (r.l, r.r)


def test_levenshtein_sim(spark):
    df = spark.createDataFrame([("kitten", "sitting")], "l string, r string")
    got = df.select(levenshtein_sim(F.col("l"), F.col("r")).alias("s")).collect()[0].s
    assert math.isclose(got, 1 - 3 / 7, abs_tol=1e-9)


def test_jaro_winkler_known_values():
    # classic published examples
    assert math.isclose(jaro_winkler_py("martha", "marhta"), 0.9611, abs_tol=1e-3)
    assert math.isclose(jaro_winkler_py("dwayne", "duane"), 0.84, abs_tol=1e-2)
    assert jaro_winkler_py("same", "same") == 1.0
    assert jaro_winkler_py("abc", "xyz") == 0.0
    assert jaro_winkler_py(None, "x") == 0.0


def test_comparison_vectors_firm(spark):
    data_l, data_r, pairs_pd = generate_firm_fixtures()
    L = spark.createDataFrame(data_l)
    R = spark.createDataFrame(data_r.where(data_r.notna(), None))
    P = spark.createDataFrame(pairs_pd).withColumnRenamed("ein", "l_id").withColumnRenamed(
        "ui_num", "r_id"
    )
    out = comparison_vectors(
        P, L, R, "ein", "ui_num", VAR_SCHEMA_FIRM, metrics=("exact", "jaccard")
    )
    rows = {(r.l_id, r.r_id): r for r in out.collect()}
    # row 0: names differ only by case/space -> exact bit 1
    assert rows[(100, 500)].cmp_name_exact == 1.0
    # row 3: right name replaced entirely -> 0
    assert rows[(103, 503)].cmp_name_exact == 0.0
    # vector has one slot per group, first-metric (exact)
    assert len(rows[(100, 500)].comparison_vector) == len(VAR_SCHEMA_FIRM)
    # pair with l_id 999 absent from L -> null-joined row still present
    assert (999, 507) in rows


def test_text_pair_similarity(spark):
    pages = spark.createDataFrame(
        [("u1", "alpha beta gamma delta"), ("u2", "alpha beta gamma epsilon"), ("u3", "zzz")],
        "url string, text string",
    )
    pairs = spark.createDataFrame([("u1", "u2"), ("u1", "u3")], "l_id string, r_id string")
    rows = {
        (r.l_id, r.r_id): r
        for r in text_pair_similarity(pairs, pages).collect()
    }
    assert math.isclose(rows[("u1", "u2")].sim_jaccard, 3 / 5, abs_tol=1e-9)
    assert rows[("u1", "u2")].cmp_text_exact == 0.0
    assert rows[("u1", "u3")].sim_jaccard == 0.0


def test_text_pair_similarity_pair_key(spark):
    """``key_col`` adds ``pair_key`` = least of the two records' keys as
    the last column, NULLs skipped as ``least`` skips them; without it
    the columns are the plain form's."""
    pages = spark.createDataFrame(
        [(1, "b", "x y"), (2, "a", "x z"), (3, None, "x"), (4, None, "y")],
        "uid long, url string, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3), (3, 4)], "l_id long, r_id long")
    plain = text_pair_similarity(pairs, pages, id_col="uid")
    keyed = text_pair_similarity(pairs, pages, id_col="uid", key_col="url")
    assert keyed.columns == plain.columns + ["pair_key"]
    got = {(r.l_id, r.r_id): r.pair_key for r in keyed.collect()}
    assert got == {(1, 2): "a", (1, 3): "b", (3, 4): None}
    assert sorted(keyed.drop("pair_key").collect()) == sorted(plain.collect())


def _two_projection_similarity(pairs, pages):
    """The score join text_pair_similarity replaced: two separate record
    projections, one using-join per side."""
    from rlr_spark.functions.similarity import norm_tokens

    toks = F.array_sort(F.transform(norm_tokens(F.col("text")), lambda t: F.xxhash64(t)))
    recs = pages.select(
        F.col("uid").alias("_rid"),
        toks.alias("_toks"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("_norm_md5"),
    ).withColumn("_ntok", F.size("_toks"))
    lh = recs.select(
        F.col("_rid").alias("l_id"), F.col("_toks").alias("_lt"),
        F.col("_norm_md5").alias("_lmd5"), F.col("_ntok").alias("_ln"),
    )
    rh = recs.select(
        F.col("_rid").alias("r_id"), F.col("_toks").alias("_rt"),
        F.col("_norm_md5").alias("_rmd5"), F.col("_ntok").alias("_rn"),
    )
    df = pairs.join(lh, "l_id").join(rh, "r_id")
    inter = F.size(F.array_intersect(F.col("_lt"), F.col("_rt"))).cast("double")
    union = (F.col("_ln") + F.col("_rn")).cast("double") - inter
    df = df.withColumn("sim_jaccard", F.coalesce(F.try_divide(inter, union), F.lit(0.0)))
    df = df.withColumn("cmp_text_exact", (F.col("_lmd5") == F.col("_rmd5")).cast("double"))
    return df.drop("_lt", "_rt", "_lmd5", "_rmd5", "_ln", "_rn")


@pytest.fixture(scope="module")
def small_run(spark, tmp_path_factory, web_pages_small):
    from rlr_spark.catalog import Catalog
    from rlr_spark.pipeline import Pipeline, PipelineConfig

    pages, _ = web_pages_small
    root = str(tmp_path_factory.mktemp("compare_wh"))
    pipe = Pipeline(spark, Catalog(spark, root), PipelineConfig(salt_k=2))
    pipe.run(pages)
    return pipe.catalog


@pytest.mark.parametrize("threshold", [None, "-1"], ids=["hint", "planner"])
def test_score_join_matches_two_projection_join(spark, small_run, threshold):
    """One record relation joined on both sides gives the rows, types and
    column order (r_id, l_id, ...) of the two-projection form, with the
    records broadcast by hint and with broadcasts off (the planner's
    shuffled path); the score table starts with the same columns."""
    extract, pairs = small_run.read("extract"), small_run.read("pairs")
    old = _two_projection_similarity(pairs, extract)
    want = sorted(old.collect())
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        if threshold is not None:
            spark.conf.set(key, threshold)
        new = text_pair_similarity(
            pairs, extract, id_col="uid", broadcast_records=threshold is None
        )
        assert new.schema == old.schema
        assert sorted(new.collect()) == want
    finally:
        spark.conf.set(key, saved)
    assert old.columns[:2] == ["r_id", "l_id"]
    score = small_run.read("score")
    assert score.dtypes[: len(old.columns)] == old.dtypes
    assert sorted(score.select(old.columns).collect()) == want
    assert len(want) > 0
