"""End-to-end: planted clusters recovered with pairwise F1 ≥ 0.99, and
kill/resume restarts from the last completed stage (BASELINE.md gates)."""

import json
import os

import pytest

from rlr_spark.catalog import Catalog
from rlr_spark.pipeline import Pipeline, PipelineConfig, pairwise_f1


@pytest.fixture(scope="module")
def run_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("pipeline_run"))


@pytest.fixture(scope="module")
def pipeline_out(spark, run_dir):
    from rlr_spark.datagen import write_web_pages

    data_dir = os.path.join(run_dir, "data")
    pages_path, truth_path = write_web_pages(data_dir, n_pages=400, seed=42)
    pages = spark.read.parquet(pages_path)
    truth = spark.read.parquet(truth_path)
    cat = Catalog(spark, os.path.join(run_dir, "warehouse"))
    pipe = Pipeline(spark, cat, PipelineConfig(salt_k=2, max_block_size=None))
    out = pipe.run(pages)
    return pipe, out, truth


def test_f1_against_planted_truth(pipeline_out):
    pipe, out, truth = pipeline_out
    scores = pairwise_f1(out["cluster"], truth)
    assert scores["f1"] >= 0.99, scores


def test_evaluate_sweep_and_blocking(pipeline_out):
    pipe, out, truth = pipeline_out
    ev = pipe.evaluate(truth)
    sweep = {r["threshold"]: r for r in ev["sweep"].collect()}
    assert len(sweep) >= 2  # at least two distinct FS score values
    # the loosest threshold predicts every scored pair positive
    loosest = min(sweep)
    assert sweep[loosest]["predicted_pos"] == out["score"].count()
    # recall never decreases as the threshold loosens; precision at the
    # configured upper threshold must be consistent with the f1 gate
    ts = sorted(sweep, reverse=True)
    recalls = [sweep[t]["recall"] for t in ts]
    assert recalls == sorted(recalls)
    bq = ev["blocking"].collect()[0]
    # blocking keeps nearly all true pairs (the F1 >= 0.99 gate implies
    # it) and prunes most of the cross-product — at 400 pages the
    # planted duplicate density is high (C(400,2) is only 80k), so the
    # ratio is far below its web-scale asymptote; 0.8 pins the shape
    assert bq["pairs_completeness"] >= 0.99, bq
    assert bq["reduction_ratio"] > 0.8, bq
    assert bq["n_candidates"] == out["score"].count()


def test_stage_manifests_written(pipeline_out, run_dir):
    pipe, out, _ = pipeline_out
    for stage in ["extract", "pairs", "score", "cluster"]:
        m = pipe.read_manifest(stage)
        assert m is not None and m["status"] == "complete"
        assert m["rows"] > 0 and m["duration_sec"] >= 0
        # per-partition lineage metrics table exists
        metrics = pipe.catalog.read(f"{stage}_metrics")
        assert metrics.count() >= 1
        assert {"_pid", "rows", "stage"} <= set(metrics.columns)


def test_resume_skips_completed_stages(spark, pipeline_out, run_dir):
    """Simulate a kill after 'pairs': delete later manifests, re-run, and
    check earlier stages are not recomputed (manifest mtime unchanged)."""
    pipe, _, _ = pipeline_out
    extract_manifest = pipe._manifest_path("extract")
    mtime_before = os.path.getmtime(extract_manifest)
    for stage in ["score", "cluster"]:
        os.remove(pipe._manifest_path(stage))
    pages = pipe.catalog.read("extract")  # any source; extract stage is skipped
    out2 = pipe.run(pages)
    assert os.path.getmtime(extract_manifest) == mtime_before
    assert pipe.read_manifest("cluster")["status"] == "complete"
    assert out2["cluster"].count() > 0


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cluster_stage_resumes_with_and_without_label_counts(pipeline_out, monkeypatch):
    """The cluster stage hands CC the Match count the score write
    observed. A resumed cluster stage reads that count from the score
    manifest and writes the same table. A score manifest with no
    ``label_counts`` (as written before the count existed) makes CC
    size the edges itself, and the table is still the same."""
    import rlr_spark.pipeline as pl

    pipe, _, _ = pipeline_out
    want = _rows(pipe.catalog.read("cluster"))
    score_path = pipe._manifest_path("score")
    with open(score_path) as f:
        score_manifest = json.load(f)
    seen = []
    real = pl.connected_components

    def spy(edges, **kw):
        seen.append(kw.get("edge_count"))
        return real(edges, **kw)

    monkeypatch.setattr(pl, "connected_components", spy)
    try:
        os.remove(pipe._manifest_path("cluster"))
        assert _rows(pipe.run(pipe.catalog.read("extract"))["cluster"]) == want
        with open(score_path, "w") as f:
            json.dump({k: v for k, v in score_manifest.items() if k != "label_counts"}, f)
        os.remove(pipe._manifest_path("cluster"))
        assert _rows(pipe.run(pipe.catalog.read("extract"))["cluster"]) == want
    finally:
        with open(score_path, "w") as f:
            json.dump(score_manifest, f)
    assert seen == [score_manifest["label_counts"]["Match"], None]


def test_score_manifest_label_counts(spark, pipeline_out, tmp_path):
    """The score manifest carries the label mix: all three labels, summing
    to the manifest's rows, equal to a count of the table. Observed
    counters ride the write's own job: ``_write_stage`` runs as many
    jobs with them as without."""
    from pyspark.sql import functions as F

    from rlr_spark import LABEL_MATCH, LABEL_NONMATCH, LABEL_UNCERTAIN
    from rlr_spark.plans import count_jobs

    pipe, _, _ = pipeline_out
    m = pipe.read_manifest("score")
    counts = m["label_counts"]
    assert set(counts) == {LABEL_MATCH, LABEL_NONMATCH, LABEL_UNCERTAIN}
    assert sum(counts.values()) == m["rows"]
    scored = pipe.catalog.read("score")
    got = {r.rlr_label: r["count"] for r in scored.groupBy("rlr_label").count().collect()}
    assert got == {k: v for k, v in counts.items() if v}

    probe = Pipeline(spark, Catalog(spark, str(tmp_path / "wh")), pipe.config)
    df = scored.repartition(3, "l_id")
    sc = spark.sparkContext
    plain, _ = count_jobs(sc, lambda: probe._write_stage("probe", df, 0.0))
    observed, _ = count_jobs(
        sc,
        lambda: probe._write_stage(
            "probe", df, 0.0, observed={"n": [F.count("*").alias("rows")]}
        ),
    )
    assert observed == plain
    assert probe.read_manifest("probe")["n"] == {"rows": m["rows"]}


def test_score_table_match_key(pipeline_out):
    """The score table ends with ``match_key``: the smaller url of the
    pair on Match rows, NULL on every other row."""
    from pyspark.sql import functions as F

    from rlr_spark import LABEL_MATCH

    pipe, _, _ = pipeline_out
    scored = pipe.catalog.read("score")
    assert scored.columns[-1] == "match_key"
    urls = pipe.catalog.read("extract").select("uid", "url")
    joined = scored.join(
        urls.select(F.col("uid").alias("l_id"), F.col("url").alias("_lu")), "l_id"
    ).join(urls.select(F.col("uid").alias("r_id"), F.col("url").alias("_ru")), "r_id")
    want = F.when(F.col("rlr_label") == LABEL_MATCH, F.least("_lu", "_ru"))
    assert joined.where(~F.col("match_key").eqNullSafe(want)).count() == 0
    n_match = pipe.read_manifest("score")["label_counts"][LABEL_MATCH]
    assert n_match > 0
    assert scored.where(F.col("match_key").isNotNull()).count() == n_match
    assert joined.count() == scored.count()


def test_score_table_without_match_key_is_recomputed(pipeline_out):
    """A warehouse whose score table was written before ``match_key``
    existed (complete manifest, same config) re-enters the score stage
    instead of failing in the cluster stage, and the clusters are the
    same."""
    import shutil

    pipe, _, _ = pipeline_out
    cat = pipe.catalog
    want = _rows(cat.read("cluster"))
    cat.write(cat.read("score").drop("match_key"), "score_old")
    shutil.rmtree(cat.path("score"))
    shutil.copytree(cat.path("score_old"), cat.path("score"))
    cat.drop("score_old")
    assert "match_key" not in cat.read("score").columns
    score_mtime = os.path.getmtime(pipe._manifest_path("score"))
    os.remove(pipe._manifest_path("cluster"))
    out = pipe.run(cat.read("extract"))
    assert os.path.getmtime(pipe._manifest_path("score")) > score_mtime
    assert out["score"].columns[-1] == "match_key"
    assert _rows(out["cluster"]) == want


def _count_key_counts(monkeypatch) -> list:
    """Record each call of the pipeline's ``key_counts`` uid check."""
    import rlr_spark.pipeline as pl

    calls = []
    real = pl.key_counts

    def counted(df, key):
        calls.append(key)
        return real(df, key)

    monkeypatch.setattr(pl, "key_counts", counted)
    return calls


def test_uid_collision_aborts_extract_and_rechecks(
    spark, tmp_path, web_pages_small, monkeypatch
):
    """Two pages with the same url get the same uid. The extract stage's
    uid check must abort the run before the extract manifest exists, so
    a rerun checks again instead of resuming past the collision. This
    input has 2 partitions, so ``run()`` rebalances it on the uid and
    the check is the observation riding that exchange (no
    ``key_counts`` job)."""
    pages, _ = web_pages_small
    dup = pages.unionByName(pages.limit(1))
    calls = _count_key_counts(monkeypatch)
    pipe = Pipeline(
        spark, Catalog(spark, str(tmp_path / "wh")), PipelineConfig(salt_k=2)
    )
    for _ in range(2):
        with pytest.raises(RuntimeError, match="uid hash collision"):
            pipe.run(dup)
        assert pipe.read_manifest("extract") is None
    assert calls == []


def test_uid_collision_aborts_unrebalanced_input(
    spark, tmp_path, web_pages_small, monkeypatch
):
    """The same abort and recheck on an input of 4 partitions, which
    ``run()`` does not rebalance (the html is not shuffled just for the
    check): the uid check is the ``key_counts`` exchange."""
    pages, _ = web_pages_small
    dup = pages.unionByName(pages.limit(1)).repartition(4)
    calls = _count_key_counts(monkeypatch)
    pipe = Pipeline(
        spark, Catalog(spark, str(tmp_path / "wh")), PipelineConfig(salt_k=2)
    )
    for _ in range(2):
        with pytest.raises(RuntimeError, match="uid hash collision"):
            pipe.run(dup)
        assert pipe.read_manifest("extract") is None
    assert calls == ["uid", "uid"]
    # without the duplicate the same path validates every row
    pipe.run(pages.repartition(4))
    assert pipe.read_manifest("extract")["validated"] == "uid_unique:300"


@pytest.mark.parametrize("uid_bits", [64, 128])
def test_empty_input_zero_row_stages(spark, tmp_path, web_pages_small, uid_bits):
    """A language filter that matches nothing: every stage lands with 0
    rows, and the 64-bit uid check validates the empty set."""
    pages, _ = web_pages_small
    pipe = Pipeline(
        spark,
        Catalog(spark, str(tmp_path / "wh")),
        PipelineConfig(salt_k=2, langs=["xx"], uid_bits=uid_bits),
    )
    out = pipe.run(pages)
    for stage, df in out.items():
        assert df.count() == 0, stage
        assert pipe.read_manifest(stage)["rows"] == 0, stage
    validated = pipe.read_manifest("extract").get("validated")
    assert validated == ("uid_unique:0" if uid_bits == 64 else None)


def test_config_change_invalidates(spark, pipeline_out, run_dir):
    pipe, _, _ = pipeline_out
    cfg = PipelineConfig(salt_k=2, max_block_size=None, upper=3.5)
    pipe2 = Pipeline(spark, pipe.catalog, cfg)
    assert not pipe2._stage_done("score")  # fingerprint mismatch forces re-run


def test_em_weights_mode_recovers_clusters(spark, tmp_path):
    """weights_mode='em': unsupervised m/u still separates the planted
    mixture well enough for F1 >= 0.99 (EM sees a clear bimodal
    agreement pattern on this corpus)."""
    import os

    from rlr_spark.datagen import write_web_pages

    data_dir = str(tmp_path / "em_data")
    pages_path, truth_path = write_web_pages(data_dir, n_pages=400, seed=13)
    pages = spark.read.parquet(pages_path)
    truth = spark.read.parquet(truth_path)
    cat = Catalog(spark, str(tmp_path / "em_wh"))
    pipe = Pipeline(
        spark, cat, PipelineConfig(salt_k=2, max_block_size=None, weights_mode="em")
    )
    out = pipe.run(pages)
    scores = pairwise_f1(out["cluster"], truth)
    assert scores["f1"] >= 0.99, scores


def test_sigkill_resume(tmp_path):
    """Hard-kill a pipeline subprocess mid-run (SIGKILL, no cleanup);
    a fresh process resumes from the last completed stage and finishes."""
    import json
    import os
    import signal
    import subprocess
    import sys
    import time

    from rlr_spark.datagen import write_web_pages

    data_dir = str(tmp_path / "kill_data")
    pages_path, _ = write_web_pages(data_dir, n_pages=300, seed=5)
    wh = str(tmp_path / "kill_wh")

    child = f"""
import sys
sys.path.insert(0, "/root/repo")
from rlr_spark.session import get_spark
from rlr_spark.catalog import Catalog
from rlr_spark.pipeline import Pipeline, PipelineConfig
spark = get_spark(master="local[2]", shuffle_partitions=2, app_name="kill_child")
pages = spark.read.parquet({pages_path!r})
pipe = Pipeline(spark, Catalog(spark, {wh!r}), PipelineConfig(salt_k=2, max_block_size=None))
out = pipe.run(pages)
print("DONE", out["cluster"].count(), flush=True)
"""
    # run 1: SIGKILL as soon as the first stage manifest lands
    p = subprocess.Popen(
        [sys.executable, "-c", child], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL
    )
    manifest = os.path.join(wh, "_manifests", "extract.json")
    deadline = time.time() + 180
    while time.time() < deadline and not os.path.exists(manifest):
        if p.poll() is not None:
            break
        time.sleep(0.5)
    assert os.path.exists(manifest), "extract stage never completed"
    if p.poll() is None:
        p.send_signal(signal.SIGKILL)
        p.wait()

    extract_mtime = os.path.getmtime(manifest)

    # run 2: fresh process completes, without redoing extract
    out = subprocess.run(
        [sys.executable, "-c", child], capture_output=True, text=True, timeout=600, check=False
    )
    assert "DONE 300" in out.stdout, out.stdout[-2000:]
    assert os.path.getmtime(manifest) == extract_mtime  # extract not recomputed
    with open(os.path.join(wh, "_manifests", "cluster.json")) as f:
        assert json.load(f)["status"] == "complete"


def test_uid128_mode_same_clusters_no_validator_job(spark, pipeline_out, run_dir):
    """uid_bits=128: struct(xxhash64(url), xxhash64(url,1)) uids flow
    through blocking/scoring/clustering unchanged, the corpus-wide
    collision-validator job is DROPPED (no 'validated' manifest entry),
    and the cluster partition of urls is identical to the 64-bit run."""
    from pyspark.sql import functions as F

    pipe64, out64, truth = pipeline_out
    pages = spark.read.parquet(os.path.join(run_dir, "data", "web_pages.parquet"))
    cat = Catalog(spark, os.path.join(run_dir, "warehouse128"))
    pipe = Pipeline(
        spark, cat, PipelineConfig(salt_k=2, max_block_size=None, uid_bits=128)
    )
    out = pipe.run(pages)

    # extract manifest: collision validator skipped, uid is a 2-long struct
    m = pipe.read_manifest("extract")
    assert "validated" not in m, m
    uid_type = out["extract"].schema["uid"].dataType.simpleString()
    assert uid_type == "struct<h1:bigint,h2:bigint>"
    m64 = pipe64.read_manifest("extract")
    assert str(m64.get("validated", "")).startswith("uid_unique")

    # F1 vs planted truth holds, and the url partition matches 64-bit:
    # same url sets grouped together (entity labels differ by design)
    scores = pairwise_f1(out["cluster"], truth)
    assert scores["f1"] >= 0.99, scores

    def url_groups(cl):
        return {
            tuple(sorted(r.urls))
            for r in cl.groupBy("entity_id")
            .agg(F.collect_list("url").alias("urls"))
            .collect()
        }

    # re-read via the catalog: earlier tests re-materialized the stage,
    # so the fixture's DataFrame points at replaced part files
    assert url_groups(out["cluster"]) == url_groups(pipe64.catalog.read("cluster"))


def test_pipeline_from_warc_segments(spark, tmp_path):
    """Ingestion off the wire format: WARC segment files (the Common
    Crawl layout) -> warc_web_pages -> full pipeline. F1 holds against
    the planted truth and extraction is byte-identical to the authored
    text (the north-rule invariant survives the HTTP/WARC framing)."""
    from rlr_spark.datagen import write_web_pages, write_web_pages_warc
    from rlr_spark.sources.warc import warc_web_pages

    glob, truth_path = write_web_pages_warc(
        str(tmp_path / "crawl"), n_pages=400, seed=42, n_segments=3
    )
    pages = warc_web_pages(spark, glob)
    truth = spark.read.parquet(truth_path)

    cat = Catalog(spark, str(tmp_path / "warehouse"))
    pipe = Pipeline(spark, cat, PipelineConfig(salt_k=2, max_block_size=None))
    out = pipe.run(pages)
    scores = pairwise_f1(out["cluster"], truth)
    assert scores["f1"] >= 0.99, scores

    # byte-identity: extracted text off the archive == authored text
    pq_dir = str(tmp_path / "pq")
    pages_path, _ = write_web_pages(pq_dir, n_pages=400, seed=42)
    authored = spark.read.parquet(pages_path).select("url", "text")
    extracted = cat.read("extract").select("url", "text")
    diff = extracted.join(authored, "url").where(
        extracted["text"] != authored["text"]
    )
    assert diff.count() == 0


def test_quality_report_from_run(spark, tmp_path):
    from rlr_spark.catalog import Catalog
    from rlr_spark.datagen import write_web_pages
    from rlr_spark.pipeline import Pipeline, PipelineConfig

    pp, _ = write_web_pages(str(tmp_path / "d"), n_pages=120, seed=3)
    pages = spark.read.parquet(pp)
    pipe = Pipeline(
        spark, Catalog(spark, str(tmp_path / "wh")), PipelineConfig(salt_k=2)
    )
    pipe.run(pages)
    md = pipe.quality_report()
    assert "# Linkage quality report" in md
    assert "## Unlinkables" in md
    assert "## Cluster stability" in md
