"""Physical-plan hygiene: the properties that decide 100 TB viability.

These are regression tests against plan rot — a filter that stops
pushing down, a broadcast that silently flips to sort-merge, a stage
that grows an unnecessary Exchange. Each assertion names the scale
property it protects.
"""

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


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


def _final_plan_lines(df) -> list[str]:
    """The executed adaptive plan of ``df`` after running it, final part only."""
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan, plan
    return plan.split("== Initial Plan ==")[0].splitlines()


def _subtree(lines: list[str], i: int) -> list[str]:
    """Line ``i`` of a plan tree string and the lines of its children."""
    depth = len(lines[i]) - len(lines[i].lstrip(" :|+-"))
    out = [lines[i]]
    for line in lines[i + 1:]:
        if len(line) - len(line.lstrip(" :|+-")) <= depth:
            break
        out.append(line)
    return out


def _table_scans(lines: list[str], table: str) -> int:
    return sum(bool(re.search(rf"FileScan parquet .*/{table}\]", ln)) for ln in lines)


def test_score_builds_one_record_relation(spark, staged):
    """The score join builds on the records, not the pairs: with the
    broadcast hint, one records BroadcastExchange serves both joins (the
    second is a ReusedExchange) and the pairs scan streams; with
    broadcasts off, the records are scanned and tokenized once and their
    shuffle is reused by the second join."""
    from rlr_spark.operators.compare import text_pair_similarity

    extract, pairs = staged.read("extract"), staged.read("pairs")
    lines = _final_plan_lines(
        text_pair_similarity(pairs, extract, id_col="uid", broadcast_records=True)
    )
    bcast = [i for i, ln in enumerate(lines) if re.match(r"[\s:|+-]*BroadcastExchange ", ln)]
    reused = [ln for ln in lines if "ReusedExchange" in ln]
    assert len(bcast) == 1 and len(reused) == 1, "\n".join(lines)
    assert "BroadcastExchange" in reused[0]
    under = _subtree(lines, bcast[0])
    assert _table_scans(under, "extract") == 1 and _table_scans(under, "pairs") == 0
    assert _table_scans(lines, "extract") == 1 and _table_scans(lines, "pairs") == 1

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        lines = _final_plan_lines(text_pair_similarity(pairs, extract, id_col="uid"))
    finally:
        spark.conf.set(key, saved)
    text = "\n".join(lines)
    assert "BroadcastExchange" not in text, text
    assert _table_scans(lines, "extract") == 1, text
    assert re.search(r"ReusedExchange .*Exchange hashpartitioning\(_rid", text), text


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
    from rlr_spark.operators.blocking import block_pairs, normalized_domain

    keyed = staged.read("extract").select(
        "url", normalized_domain(F.col("url")).alias("blk_key")
    )
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
        "block_pairs capped": (2, 6),
        "block_pairs uncapped": (1, 6),
        "block_pairs_lr capped": (4, 7),
        "block_pairs_lr uncapped": (3, 7),
        "candidate_pairs": (3, 5),
        "minhash_dup_pairs": (10, 2),
        "incremental_pairs_batch": (6, 8),
    }
    assert got == want, "; ".join(f"{k}={v}" for k, v in got.items())


# ---------------------------------------------------------------------------
# Read-backs of what the engine just wrote: no schema-inference jobs
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("uid_bits", [64, 128])
def test_catalog_read_back_runs_no_job(spark, tmp_path, web_pages_small, uid_bits):
    """A bare ``read.parquet`` runs one job to infer the schema from file
    footers. Every stage table read back through the catalog uses the
    schema sidecar its write left, so it runs none, and that schema is
    the one inference would give (struct uid at 128 bits, the score
    stage's ``rlr_modified`` timestamp)."""
    from rlr_spark.catalog import Catalog
    from rlr_spark.pipeline import STAGES, Pipeline, PipelineConfig
    from rlr_spark.plans import count_jobs

    pages, _ = web_pages_small
    cat = Catalog(spark, str(tmp_path / "wh"))
    Pipeline(spark, cat, PipelineConfig(salt_k=2, uid_bits=uid_bits)).run(pages)
    for s in STAGES:
        jobs, df = count_jobs(spark.sparkContext, lambda: cat.read(s))
        assert jobs == 0, s
        assert df.schema == spark.read.parquet(cat.path(s)).schema, s
    assert isinstance(cat.read("extract").schema["uid"].dataType, T.StructType) == (
        uid_bits == 128
    )
    assert isinstance(cat.read("score").schema["rlr_modified"].dataType, T.TimestampType)


def test_catalog_read_falls_back_to_inference(spark, tmp_path):
    """Tables with no sidecar (written by raw Spark, or before the
    sidecar existed) and tables with a torn sidecar read through the
    inferring reader. A raw overwrite of a catalog table deletes its
    sidecar with the old files, so no stale schema survives it."""
    import os

    from rlr_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a", 0.5), (2, "b", None)], "id long, s string, x double")
    cat.write(spark.range(3), "raw")
    df.write.mode("overwrite").parquet(cat.path("raw"))
    cat.write(df, "torn")
    sidecar = os.path.join(cat.path("torn"), "_schema.json")
    with open(sidecar) as f:
        text = f.read()
    with open(sidecar, "w") as f:
        f.write(text[: len(text) // 2])
    want = sorted(df.collect())
    for name in ("raw", "torn"):
        got = cat.read(name)
        assert got.schema == spark.read.parquet(cat.path(name)).schema, name
        assert sorted(got.collect()) == want, name


@pytest.mark.parametrize("uid_bits", [64, 128])
def test_cluster_write_has_no_window(spark, tmp_path, web_pages_small, uid_bits):
    """The cluster write's final adaptive plan: the pages scan joined to
    the broadcast CC assignment, whose entity_key came with the Match
    edges, so no Window re-shuffles the pages for min(url). At 64 bits
    the assignment is the driver's one-slice upload, so the write is
    one broadcast plus the scan, with no shuffle. At 128 bits the
    assignment is joined to the node dictionary first (see the
    pipeline's cluster stage), and that join still plans as a
    sort-merge join that exchanges the pages (an open item in
    ROADMAP.md), so only the Window's absence is checked there."""
    from rlr_spark.catalog import Catalog
    from rlr_spark.pipeline import Pipeline, PipelineConfig

    pages, _ = web_pages_small
    pipe = Pipeline(
        spark,
        Catalog(spark, str(tmp_path / "wh")),
        PipelineConfig(salt_k=2, uid_bits=uid_bits),
    )
    plans = {}
    write = pipe.catalog.write

    def recording_write(df, name):
        if name == "cluster":
            df.collect()  # the final adaptive plan, as the write runs it
            plans[name] = _plan(df)
        write(df, name)

    pipe.catalog.write = recording_write
    pipe.run(pages)
    plan = plans["cluster"]
    assert "isFinalPlan=true" in plan
    assert "Window" not in plan
    plan = plan.split("== Initial Plan ==")[0]
    if uid_bits == 64:
        assert re.findall(r"(\w*)Exchange ", plan) == ["Broadcast"], plan
        assert "FileScan parquet" in plan and "LocalTableScan" in plan, plan


def test_pipeline_and_review_job_counts(spark, tmp_path, web_pages_small):
    """Total Spark jobs of a forced warm ``Pipeline.run``, of each stage
    run alone (its manifest deleted, so the resumed run re-enters that
    stage only), of a review open (``ReviewSession`` + ``CLReviewer``),
    of a review render that enters a new page and of one
    inside the cached page, of one label save (with autosave to
    parquet) and of the label summary. A change may lower a count,
    never raise it."""
    import os

    from rlr_spark.catalog import Catalog
    from rlr_spark.cli import CLReviewer
    from rlr_spark.datagen import VAR_SCHEMA_FIRM, generate_firm_fixtures
    from rlr_spark.pipeline import STAGES, Pipeline, PipelineConfig
    from rlr_spark.plans import count_jobs
    from rlr_spark.report import render_label_summary
    from rlr_spark.sources.packet import ReviewPacket, ReviewSession

    sc = spark.sparkContext
    pages, _ = web_pages_small
    pipe = Pipeline(spark, Catalog(spark, str(tmp_path / "wh")), PipelineConfig(salt_k=2))
    pipe.run(pages, force=True)
    run_jobs, _ = count_jobs(sc, lambda: pipe.run(pages, force=True))
    # extract: write 2 (the uid-keyed rebalance exchange, which the uid
    # check rides, + the write); pairs: blocking checkpoint 2 + write 4;
    # score: write 2 (one records broadcast, reused by both joins, +
    # the write); cluster: CC collect 1 + write 2 (the assignment
    # broadcast + the map-only write)
    stage_jobs = {}
    for s in STAGES:
        os.remove(pipe._manifest_path(s))
        stage_jobs[s], _ = count_jobs(sc, lambda: pipe.run(pages))
    assert stage_jobs == {"extract": 2, "pairs": 6, "score": 2, "cluster": 3}, stage_jobs
    assert sum(stage_jobs.values()) == run_jobs

    data_l, data_r, _ = generate_firm_fixtures()
    # every L x R pair: 144 pairs, three render pages
    pairs = data_l[["ein"]].merge(data_r[["ui_num"]], how="cross")
    paths = {n: str(tmp_path / f"{n}.parquet") for n in ("L", "R", "pairs")}
    for n, pdf in zip(paths, (data_l, data_r, pairs)):
        spark.createDataFrame(pdf).write.parquet(paths[n])
    packet = ReviewPacket(
        file_L=paths["L"],
        file_L_ids=["ein"],
        file_R=paths["R"],
        file_R_ids=["ui_num"],
        file_comps=paths["pairs"],
        var_group_schema=VAR_SCHEMA_FIRM,
        label_choices=["Match", "Not a Match", "Maybe a Match"],
    )
    open_jobs, reviewer = count_jobs(
        sc,
        lambda: CLReviewer(
            ReviewSession(spark, packet),
            comp_pairs_path=str(tmp_path / "reviewed.parquet"),
            input_fn=lambda _prompt: "66",
            print_fn=lambda _text: None,
        ),
    )
    # warm: the first save replaces the packet's scan with the saved table
    reviewer.render_current()
    reviewer.process_choice("1")
    reviewer.process_choice("n")
    reviewer.process_choice("g")  # to index 65, the second page
    assert reviewer.session.cursor == 65
    page_jobs, _ = count_jobs(sc, reviewer.render_current)
    reviewer.process_choice("n")
    cached_jobs, _ = count_jobs(sc, reviewer.render_current)
    save_jobs, _ = count_jobs(sc, lambda: reviewer.process_choice("2"))
    summary_jobs, _ = count_jobs(
        sc, lambda: render_label_summary(reviewer.pairs, packet.label_choices)
    )
    got = {
        "pipeline_run": run_jobs,
        "review_open": open_jobs,
        "review_render_new_page": page_jobs,
        "review_render_cached": cached_jobs,
        "review_save": save_jobs,
        "label_summary": summary_jobs,
    }
    assert got == {
        "pipeline_run": 13,
        # session 15 (3 key_counts uniqueness checks at 2 jobs each among
        # them); reviewer 3: the bounded count of the review-limit guard
        # (2) and the TakeOrderedAndProject key collect (1)
        "review_open": 18,
        "review_render_new_page": 1,
        "review_render_cached": 0,
        "review_save": 1,
        "label_summary": 2,
    }, got
