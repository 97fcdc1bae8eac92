"""Physical-plan hygiene: the properties that decide 100 TB viability.

These are regression tests against plan rot — a filter that stops
pushing down, a broadcast that silently flips to sort-merge, a stage
that grows an unnecessary Exchange. Each assertion names the scale
property it protects.
"""

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory, web_pages_small):
    """Materialized extract + pairs tables, like a real inter-stage read."""
    import os

    from rlr_spark.catalog import Catalog
    from rlr_spark.pipeline import Pipeline, PipelineConfig

    pages, _ = web_pages_small
    root = str(tmp_path_factory.mktemp("plans_wh"))
    pipe = Pipeline(spark, Catalog(spark, root), PipelineConfig(salt_k=2, max_block_size=None))
    out = pipe.run(pages)
    return pipe.catalog


def test_extract_has_no_shuffle(spark, web_pages_small):
    """Extraction is embarrassingly parallel: no Exchange in the plan."""
    from rlr_spark.operators.extract import extract_text

    pages, _ = web_pages_small
    plan = _plan(extract_text(pages.drop("text")))
    assert "Exchange" not in plan


def test_score_scan_prunes_columns(spark, staged):
    """The similarity join must read only (url, text) from the extract
    table — dragging warc_ts/lang into a 10^12-pair join is real money."""
    from rlr_spark.operators.compare import text_pair_similarity

    extract = staged.read("extract")
    pairs = staged.read("pairs")
    plan = _plan(text_pair_similarity(pairs, extract, id_col="uid"))
    for rs in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in rs.split(",") if c}
        assert cols <= {"uid", "text", "l_id", "r_id"}, plan


def test_score_uses_hash_join_not_nested_loop(spark, staged):
    from rlr_spark.operators.compare import text_pair_similarity

    plan = _plan(
        text_pair_similarity(staged.read("pairs"), staged.read("extract"), id_col="uid")
    )
    assert "HashJoin" in plan  # broadcast or shuffled — never NestedLoop/Cartesian
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_filter_pushdown_to_parquet(spark, staged):
    extract = staged.read("extract").where(F.col("lang") == "en").select("url")
    plan = _plan(extract)
    assert re.search(r"PushedFilters: \[.*EqualTo\(lang,en\)", plan), plan


def test_existence_flags_no_python_udf(spark, staged):
    """The V3 semi-join replacement must stay JVM-side (the reference's
    per-row Python probe is the anti-pattern we replaced)."""
    from rlr_spark.operators.review import existence_flags, init_review_columns

    pairs = init_review_columns(staged.read("pairs"))
    extract = staged.read("extract")
    flagged = existence_flags(
        pairs, extract, extract, "uid", "uid", l_pair_col="l_id", r_pair_col="r_id"
    )
    plan = _plan(flagged)
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_blocking_pairs_partition_by_key_and_salt(spark, staged):
    """The salted self-join must key its exchange on (blk_key, salt) so a
    hot block spreads across reducers."""
    from rlr_spark.operators.blocking import block_pairs, with_domain_key

    keyed = with_domain_key(staged.read("extract")).select("url", "blk_key")
    pairs, _ = block_pairs(keyed, "url", salt_k=4, max_block_size=None)
    plan = _plan(pairs)
    # the pair join's keys must include the salt (AQE may turn the
    # physical exchange into a broadcast at toy sizes, but the join
    # contract — and hence the at-scale partitioning — is (key, salt))
    assert re.search(r"Join \[blk_key#\d+, _salt", plan), plan


def test_whole_stage_codegen_covers_similarity(spark, staged):
    from rlr_spark.operators.compare import text_pair_similarity

    df = text_pair_similarity(staged.read("pairs"), staged.read("extract"), id_col="uid")
    # collect() executes *this* plan object, finalizing its adaptive plan;
    # codegen spans then appear as "*(n)" node prefixes
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan and "*(" in plan, plan


def test_shuffle_lineage_detection(spark, staged):
    from rlr_spark.plans import has_shuffle_lineage

    scan = staged.read("extract")
    assert not has_shuffle_lineage(scan)
    shuffled = scan.groupBy("lang").count()
    assert has_shuffle_lineage(shuffled)
    repartitioned = scan.repartition(8)
    assert has_shuffle_lineage(repartitioned)


def test_lsh_band_keys_lazy_on_shuffled_input(spark, staged):
    """Building band keys over a SHUFFLE-lineage input must trigger zero
    jobs: the old partition-count probe finalized AQE and ran the
    upstream map stages (~2x cost). The auto-detect skips the probe."""
    from rlr_spark.operators.blocking import lsh_band_keys
    from rlr_spark.plans import count_jobs, has_shuffle_lineage

    shuffled = (
        staged.read("extract")
        .repartition(4, "url")
        .select("url", "text")
    )
    assert has_shuffle_lineage(shuffled)
    jobs, keys = count_jobs(
        spark.sparkContext,
        lambda: lsh_band_keys(shuffled, "url", "text", bands=2, rows_per_band=2),
    )
    assert jobs == 0, f"lsh_band_keys ran {jobs} pre-jobs on a shuffled input"
    # and the result is still correct when executed
    assert keys.count() > 0


def test_sessionize_single_shuffle(spark):
    """Sessionization = ONE hash exchange on user_id: the two windows
    and the session aggregate all reuse the same partitioning."""
    from rlr_spark.operators.temporal import sessionize

    from datetime import datetime

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 7, 0.0)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    plan = _plan(sessionize(df))
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, plan


def test_asof_join_is_window_not_range_join(spark):
    """The as-of join must compile to union + window — never a
    BroadcastNestedLoop/cartesian range join."""
    from rlr_spark.operators.temporal import asof_join

    from datetime import datetime

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 7, 0.0)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    plan = _plan(asof_join(df, df))
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan and "Union" in plan


def test_weighted_sample_is_takeordered(spark):
    """Top-k must be TakeOrderedAndProject (per-partition heaps + k-row
    driver merge) — never a global Sort."""
    from rlr_spark.functions.sampling import weighted_sample

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") + 1).cast("double").alias("w")
    )
    plan = _plan(weighted_sample(df, k=5, weight=F.col("w")))
    assert "TakeOrderedAndProject" in plan, plan


def test_bm25_stats_broadcast_no_shuffle_on_corpus(spark):
    """BM25's corpus statistics come back as a broadcast, and the
    corpus side itself is never hash-exchanged (tf is per-row work)."""
    from rlr_spark.functions.retrieval import bm25_topk

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("a b c").alias("text")
    )
    plan = _plan(bm25_topk(df, ["a", "b"], topk=5))
    assert "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_golden_records_one_aggregation_for_many_mode_cols(spark):
    """Survivorship with several mode columns must ride ONE entity-key
    aggregation (F.mode as a plain agg), not one count-groupBy + join
    per column — round 5 paid 3 extra shuffles per attribute."""
    import re

    from rlr_spark.operators.cluster import golden_records

    recs = spark.createDataFrame(
        [(1, "a", "en", "x", "p")],
        "doc_id long, text string, lang string, kind string, site string",
    )
    assign = spark.createDataFrame([(1, 10)], "doc_id long, entity_id long")
    def n_exchanges(mode_cols):
        plan = _plan(
            golden_records(
                assign, recs, "doc_id",
                longest_col="text", length_col="doc_id",
                mode_cols=mode_cols,
            )
        )
        return len(re.findall(r"Exchange hashpartitioning", plan)), plan

    one, plan1 = n_exchanges(("lang",))
    three, plan3 = n_exchanges(("lang", "kind", "site"))
    # the records-to-assignment join contributes its (corpus-sized,
    # correctly co-partitioned) exchanges either way; mode columns must
    # ride the ONE entity-key aggregation and add zero exchanges
    assert three == one, plan3
    assert "partial_mode(lang" in plan3 and "partial_mode(site" in plan3, plan3


def test_adamic_adar_no_cartesian_and_mapside_combine(spark):
    from pyspark.sql import functions as F

    from rlr_spark.functions.graph import adamic_adar
    from rlr_spark.plans import physical_plan

    edges = spark.range(200).select(
        (F.col("id") % 50).alias("u"), (F.col("id") % 7).cast("string").alias("s")
    )
    plan = physical_plan(adamic_adar(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the wedge join must be a hash join on the right-node key
    assert "HashJoin" in plan


def test_rule_cascade_no_windows(spark):
    from pyspark.sql import functions as F

    from rlr_spark.operators.matching import rule_cascade
    from rlr_spark.plans import physical_plan

    left = spark.range(100).select(
        F.col("id").alias("l_id"), (F.col("id") % 37).cast("string").alias("k")
    )
    right = spark.range(80).select(
        F.col("id").alias("r_id"), (F.col("id") % 41).cast("string").alias("k")
    )
    out = rule_cascade(
        left, right, [("p1", F.col("k"), F.col("k")), ("p2", F.col("k"), F.col("k"))]
    )
    plan = physical_plan(out)
    # uniqueness is groupBy count==1 + min(id) in ONE aggregate —
    # never a per-key window (which would sort within partitions)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_clk_positions_stay_codegen_no_udf(spark):
    from pyspark.sql import functions as F

    from rlr_spark.functions.ppl import clk_positions
    from rlr_spark.plans import physical_plan

    df = spark.range(50).select(F.concat(F.lit("name"), F.col("id")).alias("n"))
    plan = physical_plan(df.select(clk_positions(F.col("n")).alias("p")))
    # encoding is pure column expressions: no Python evaluation nodes,
    # no exchange — a 10^12-row encode is a scan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# Job counts of the salted-join callers: plan building and one count()
# ---------------------------------------------------------------------------

def test_salted_join_job_counts(spark, web_pages_small):
    """Every Spark job is a fixed cost (a scheduling round-trip and a task
    wave) that no timing test would notice creeping up. Pinned as
    (jobs to build the plan, jobs for one count()) per salted-join
    caller; a change may lower a count, never raise it."""
    from rlr_spark.functions.dedup import minhash_dup_pairs
    from rlr_spark.operators.blocking import block_pairs, block_pairs_lr, candidate_pairs
    from rlr_spark.plans import count_jobs
    from rlr_spark.streaming.ingest import incremental_pairs_batch

    pages, _ = web_pages_small
    # 2,000 rows: one 600-row hot key (salted at the default 512
    # threshold, dropped at a 500-row cap) plus a tail of 97 small keys
    keyed = spark.range(2000).select(
        F.col("id").cast("string").alias("id"),
        F.when(F.col("id") < 600, F.lit(-1)).otherwise(F.col("id") % 97).alias("blk_key"),
    )
    left = keyed.select(F.col("id").alias("l_id"), "blk_key")
    right = keyed.where(F.col("id").cast("long") % 3 == 0).select(
        F.col("id").alias("r_id"), "blk_key"
    )
    stream_keys = keyed.select(F.col("id").alias("url"), "blk_key")
    docs = pages.select(F.col("url").alias("doc_id"), "text")
    calls = {
        "block_pairs capped": lambda: block_pairs(keyed, "id", max_block_size=500)[0],
        "block_pairs uncapped": lambda: block_pairs(keyed, "id", max_block_size=None)[0],
        "block_pairs_lr capped": lambda: block_pairs_lr(left, right, max_block_size=500)[0],
        "block_pairs_lr uncapped": lambda: block_pairs_lr(left, right)[0],
        "candidate_pairs": lambda: candidate_pairs(pages, salt_k=2)[0],
        "minhash_dup_pairs": lambda: minhash_dup_pairs(docs),
        "incremental_pairs_batch": lambda: incremental_pairs_batch(
            stream_keys.where(F.col("id").cast("long") >= 1800),
            stream_keys.where(F.col("id").cast("long") < 1800),
        )[0],
    }
    got = {}
    for name, build in calls.items():
        build_jobs, df = count_jobs(spark.sparkContext, build)
        action_jobs, _ = count_jobs(spark.sparkContext, df.count)
        got[name] = (build_jobs, action_jobs)
    want = {
        "block_pairs capped": (3, 6),
        "block_pairs uncapped": (1, 6),
        "block_pairs_lr capped": (5, 7),
        "block_pairs_lr uncapped": (3, 7),
        "candidate_pairs": (4, 6),
        "minhash_dup_pairs": (11, 2),
        "incremental_pairs_batch": (7, 8),
    }
    assert got == want, "; ".join(f"{k}={v}" for k, v in got.items())
