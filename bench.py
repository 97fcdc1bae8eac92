"""Benchmark harness — one JSON line to stdout.

Headline metric: scored pairs per second through the full ER pipeline
(extract -> block -> score -> cluster) over a deterministic synthetic
web_pages corpus sized from the testdata scale factor, plus per-query
wall times for the flagship driver queries over $SPARK_GRAFT_SF_DIR.

Self-honesty rules (the artifact is the number):
- one warm-up job (pandas-UDF + shuffle) before any timed window, so
  Python-worker and codegen startup never lands inside t0;
- every timed section is the MIN OF 2 TRIALS — single-shot numbers on a
  shared box carry +/-7% noise and a README quoting a lucky run
  diverges from the recorded artifact;
- the big-corpus run (RLR_BENCH_BIG_PAGES, default 300k) is reported
  separately so the headline also tracks the data-proportional regime
  where fixed per-job cost is amortized.

    SPARK_GRAFT_SF_DIR     default /root/testdata/sf0.1
    SPARK_GRAFT_CPUS       default: cores this process may run on (local[N])
    RLR_BENCH_PAGES        override pipeline corpus size
    RLR_BENCH_BIG_PAGES    override big-corpus size (0 disables)
    RLR_BENCH_TRIALS       override trials per section (default 2)

Output: {"metric": "scored_pairs_per_sec", "value": N, "unit": "pairs/sec",
         "queries": {...}, "sf": ..., "pipeline": {...}, "pipeline_big": {...}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
TRIALS = int(os.environ.get("RLR_BENCH_TRIALS", "2"))

# corpus size for the pipeline benchmark: ~sf * 400k pages
_SF_GUESS = {"sf0.001": 1_000, "sf0.01": 8_000, "sf0.1": 40_000}
PAGES = int(
    os.environ.get(
        "RLR_BENCH_PAGES", _SF_GUESS.get(os.path.basename(SF_DIR.rstrip("/")), 20_000)
    )
)
# the data-proportional corpus (fixed cost <5% of wall); 0 disables
BIG_PAGES = int(os.environ.get("RLR_BENCH_BIG_PAGES", "300000"))

BENCH_QUERIES = [
    "c3_fs_score",
    "cc_clusters",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_prefix_join",
    "text_stats",
    "text_bigram_lm",
    "graph_pagerank",
    "bm25_topk",
    "emb_topk_cosine",
    "j1_pair_record_join",
    "meta_blocking",
    # round-6 session-3 additions (extra keys — downstream diffs tolerate
    # additions; never remove/rename existing keys mid-round)
    "soft_tfidf",
    "graph_adamic_adar",
    "clk_dice",
]


def _corpus(pages: int) -> str:
    from rlr_spark.datagen import write_web_pages

    data_dir = f"/tmp/rlr_bench_corpus_{pages}"
    pages_path = os.path.join(data_dir, "web_pages.parquet")
    if not os.path.exists(pages_path):
        write_web_pages(data_dir, n_pages=pages, seed=42)
    return pages_path


def _run_pipeline(spark, pages_df, n_pages: int, trials: int) -> dict:
    """Min-of-N full pipeline runs on a fresh warehouse each trial."""
    from rlr_spark.catalog import Catalog
    from rlr_spark.pipeline import Pipeline, PipelineConfig

    best = None
    for trial in range(trials):
        wh = f"/tmp/rlr_bench_wh_{n_pages}_{CPUS}"
        shutil.rmtree(wh, ignore_errors=True)
        # cap coarse domain blocks: a mega-domain of D pages is D^2/2
        # pairs from the domain pass alone — the LSH pass covers its
        # duplicates with bounded bucket sizes (the at-scale design)
        pipe = Pipeline(
            spark, Catalog(spark, wh), PipelineConfig(salt_k=8, max_block_size=2_000)
        )
        t0 = time.time()
        out = pipe.run(pages_df, force=True)
        n_clusters = out["cluster"].count()  # materialize everything
        wall = time.time() - t0
        scored = pipe.read_manifest("score")["rows"]
        if best is None or wall < best["wall_sec"]:
            # per-stage walls straight from the manifests the run just
            # wrote: attributes headline moves to stages without a
            # separate scaling-harness run
            stage_secs = {
                s: (pipe.read_manifest(s) or {}).get("duration_sec")
                for s in ("extract", "pairs", "score", "cluster")
            }
            best = {
                "pages": n_pages,
                "scored_pairs": scored,
                "clusters": n_clusters,
                "wall_sec": round(wall, 3),
                "pairs_per_sec": round(scored / wall, 1) if wall > 0 else 0.0,
                "stage_sec": stage_secs,
                "cpus": CPUS,
                "trials": trials,
            }
    return best


def _run_streaming_bench(spark, corpus_path: str) -> dict:
    """Per-batch wall of the incremental near-dup stream as state grows.

    The 100 TB claim for the streaming paths is per-batch-proportional
    cost: batch i's work must not grow with the VOLUME of the i-1
    batches of accumulated state. Evidence: fixed-size batches over
    growing state, one compaction epoch mid-stream — the epoch-opening
    walls (1x vs 10x accumulated state) must match. The within-epoch
    slope is reported too: it measures plain-parquet partition-listing
    growth (leaf dirs ~ buckets x batches), which compaction resets —
    see the summary-field comment below.
    """
    import glob as _glob

    from pyspark.sql import functions as F

    from rlr_spark.streaming.ingest import compact_state, incremental_neardup_stream

    n_batches = int(os.environ.get("RLR_BENCH_STREAM_BATCHES", "20"))
    compact_at = n_batches // 2
    root = f"/tmp/rlr_bench_stream_{n_batches}"
    shutil.rmtree(root, ignore_errors=True)
    staged, src, work = f"{root}/staged", f"{root}/src", f"{root}/work"
    os.makedirs(src, exist_ok=True)

    # deterministic equal-size batches: one pass over the bench corpus,
    # hive-partitioned by url-hash bucket (files inside each leaf carry
    # the stream schema — the partition column is directory-only)
    corpus = spark.read.parquet(corpus_path)
    (
        corpus.withColumn("_b", F.pmod(F.xxhash64("url"), F.lit(n_batches)))
        .repartition("_b")
        .write.partitionBy("_b")
        .mode("overwrite")
        .parquet(staged)
    )
    docs_per_batch = corpus.count() // n_batches

    # banding matched to THIS corpus, same as the batch pipeline's
    # (3-shingles, b16r3): the stream's word-level default (k=1, b32r2)
    # is tuned for short heterogeneous docs and collides constantly on
    # template-heavy web pages (measured: 78M candidate pairs at 12k
    # docs -> superlinear per-batch walls from candidate explosion, not
    # from state growth)
    def _stream():
        return incremental_neardup_stream(
            spark, src + "/*", work, jaccard_threshold=0.8,
            shingle_k=3, bands=16, rows_per_band=3,
        )

    q = _stream()
    walls, compact_sec = [], None
    try:
        for i in range(n_batches):
            for f in _glob.glob(f"{staged}/_b={i}/*.parquet"):
                shutil.copy(f, f"{src}/b{i:03d}_{os.path.basename(f)}")
            t0 = time.time()
            q.processAllAvailable()
            walls.append(round(time.time() - t0, 3))
            if i + 1 == compact_at:
                # epoch compaction: stop, fold applied batch partitions,
                # restart against the same checkpoint
                q.stop()
                t0 = time.time()
                compact_state(spark, work)
                compact_sec = round(time.time() - t0, 3)
                q = _stream()
    finally:
        q.stop()
    pairs_dir = os.path.join(work, "pairs")
    n_pairs = (
        spark.read.parquet(pairs_dir).count()
        if os.path.isdir(pairs_dir)
        else 0
    )
    shutil.rmtree(root, ignore_errors=True)
    # The per-batch-proportional claim is about STATE VOLUME: compare
    # the epoch-opening batches — batch 0 runs against ~1 batch of
    # state, the first post-compaction batch against compact_at
    # batches' worth (10x the data) — they must match. Within an epoch
    # walls DO grow ~linearly with the batch count: that is parquet
    # partition-LISTING cost (every batch adds bucket x batch_id leaf
    # dirs), demonstrably reset by compaction, not data-volume growth;
    # Iceberg metadata makes it a non-issue at production scale and the
    # slope + compaction cost here quantify the plain-parquet cadence
    # trade (optimal epoch ~ sqrt(2*compact_sec/slope)).
    epoch1, epoch2 = walls[:compact_at] or walls, walls[compact_at:]
    open1 = sum(epoch1[:2]) / len(epoch1[:2])
    open2 = sum(epoch2[:2]) / len(epoch2[:2]) if len(epoch2) >= 2 else None
    slope = (
        round((epoch1[-1] - epoch1[1]) / max(len(epoch1) - 2, 1), 2)
        if len(epoch1) >= 3
        else None
    )
    return {
        "docs_per_batch": docs_per_batch,
        "n_batches": n_batches,
        "batch_sec": walls,
        "compact_at_batch": compact_at,
        "compact_sec": compact_sec,
        "epoch_open_sec_first": round(open1, 2),
        "epoch_open_sec_after_compaction": round(open2, 2) if open2 else None,
        "state_batches_at_reopen": compact_at,
        "listing_growth_sec_per_batch": slope,
        "total_pairs": n_pairs,
        "docs_per_sec_epoch_open": round(docs_per_batch / open1, 1),
    }


def _run_entity_stream_bench(spark, corpus_path: str) -> dict:
    """Per-batch wall of the COMPOSED stream: incremental near-dup +
    incremental entity resolution (EntityState.update folded into each
    foreachBatch). Same per-batch-proportional evidence shape as the
    near-dup bench, fewer batches (the ER fold adds alias-resolution
    jobs per batch); one alias compaction runs mid-stream."""
    import glob as _glob

    from pyspark.sql import functions as F

    from rlr_spark.streaming.entities import EntityState
    from rlr_spark.streaming.ingest import incremental_neardup_stream

    n_batches = int(os.environ.get("RLR_BENCH_ER_BATCHES", "8"))
    compact_at = max(n_batches // 2, 1)
    root = f"/tmp/rlr_bench_erstream_{n_batches}"
    shutil.rmtree(root, ignore_errors=True)
    staged, src, work = f"{root}/staged", f"{root}/src", f"{root}/work"
    os.makedirs(src, exist_ok=True)
    corpus = spark.read.parquet(corpus_path)
    (
        corpus.withColumn("_b", F.pmod(F.xxhash64("url"), F.lit(n_batches)))
        .repartition("_b")
        .write.partitionBy("_b")
        .mode("overwrite")
        .parquet(staged)
    )
    docs_per_batch = corpus.count() // n_batches

    ents = EntityState(spark, f"{root}/ents", buckets=64)

    def _stream():
        return incremental_neardup_stream(
            spark, src + "/*", work, jaccard_threshold=0.8,
            shingle_k=3, bands=16, rows_per_band=3, entity_state=ents,
        )

    q = _stream()
    walls, compact_sec = [], None
    try:
        for i in range(n_batches):
            for f in _glob.glob(f"{staged}/_b={i}/*.parquet"):
                shutil.copy(f, f"{src}/b{i:03d}_{os.path.basename(f)}")
            t0 = time.time()
            q.processAllAvailable()
            walls.append(round(time.time() - t0, 3))
            if i + 1 == compact_at:
                q.stop()
                t0 = time.time()
                ents.compact_aliases(1)
                compact_sec = round(time.time() - t0, 3)
                q = _stream()
    finally:
        q.stop()
    n_entities = ents.assignments().select("entity").distinct().count()
    rounds = getattr(ents, "last_resolve_rounds", None)
    shutil.rmtree(root, ignore_errors=True)
    epoch1, epoch2 = walls[:compact_at] or walls, walls[compact_at:]
    open1 = sum(epoch1[:2]) / len(epoch1[:2])
    open2 = sum(epoch2[:2]) / len(epoch2[:2]) if len(epoch2) >= 2 else None
    return {
        "docs_per_batch": docs_per_batch,
        "n_batches": n_batches,
        "batch_sec": walls,
        "alias_compact_at_batch": compact_at,
        "alias_compact_sec": compact_sec,
        "epoch_open_sec_first": round(open1, 2),
        "epoch_open_sec_after_compaction": round(open2, 2) if open2 else None,
        "final_resolve_rounds": rounds,
        "n_entities": n_entities,
    }


def _run_warc_bench(spark, trials: int) -> dict:
    """WARC ingestion throughput: synthetic multi-segment .warc.gz corpus
    -> warc_web_pages scan (binaryFile + mapInPandas gzip-member
    streaming), MB/s and records/s. File-level parallelism is the
    industry decomposition; this measures the per-byte cost of the
    linear member streamer at bench scale."""
    from rlr_spark.sources.warc import warc_web_pages, write_warc

    n_segments = int(os.environ.get("RLR_BENCH_WARC_SEGMENTS", "8"))
    rec_per_seg = int(os.environ.get("RLR_BENCH_WARC_RECORDS", "12500"))
    root = f"/tmp/rlr_bench_warc_{n_segments}x{rec_per_seg}"
    if not os.path.isdir(root):
        os.makedirs(root, exist_ok=True)
        for s in range(n_segments):
            recs = []
            for i in range(rec_per_seg):
                k = s * rec_per_seg + i
                body = (
                    f"<html><head><title>doc {k}</title></head><body>"
                    + f"<p>segment {s} record {i} "
                    + ("token%d " % (k % 997)) * 60
                    + "</p></body></html>"
                )
                recs.append(
                    {
                        "warc_type": "response",
                        "target_uri": f"https://bench.example.org/s{s}/p{i}",
                        "date": "2024-01-01T00:00:00Z",
                        "body": body,
                    }
                )
            write_warc(f"{root}/segment-{s:02d}.warc.gz", recs, compress=True)
    total_bytes = sum(
        os.path.getsize(os.path.join(root, f)) for f in os.listdir(root)
    )
    n_records = n_segments * rec_per_seg
    best = None
    for _ in range(trials):
        t0 = time.time()
        warc_web_pages(spark, root + "/*.warc.gz").write.mode(
            "overwrite"
        ).format("noop").save()
        wall = time.time() - t0
        best = wall if best is None else min(best, wall)
    return {
        "segments": n_segments,
        "records": n_records,
        "compressed_mb": round(total_bytes / 1e6, 1),
        "scan_sec": round(best, 3),
        "mb_per_sec": round(total_bytes / 1e6 / best, 1),
        "records_per_sec": round(n_records / best, 1),
        "records_per_sec_per_core": round(n_records / best / CPUS, 1),
    }


def main() -> None:
    import __spark_entry__ as entrymod
    from rlr_spark.session import get_spark

    # cores*3 partitions (the standard oversubscription sizing): the r2
    # experiment with cores*1 penalized every shuffle-heavy query
    # (c3_fs_score +35%) while leaving the pipeline flat — measured, so
    # reverted. default.parallelism also floors AQE's coalescing and
    # divides scan bytes per task.
    par = CPUS * 3
    spark = get_spark(
        app_name="rlr_bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=par,
        extra_conf={"spark.default.parallelism": str(par)},
    )

    sf_name = os.path.basename(SF_DIR.rstrip("/"))

    # --- warm-up: JVM codegen + Python worker pool, outside every t0 -------
    from pyspark.sql import functions as F

    warm = spark.range(0, 1_000_000, 1, CPUS).select(
        F.bit_xor(F.xxhash64("id")).alias("s")  # bit_xor: ANSI-safe over hashes
    )
    warm.collect()
    from rlr_spark.operators.extract import extract_text

    spark.range(0, CPUS * 4, 1, CPUS * 4).selectExpr(
        "cast(concat('<body><p>w', id, '</p></body>') as binary) as html"
    ).transform(extract_text).write.format("noop").mode("overwrite").save()

    # --- pipeline benchmark on synthetic corpus (cached across runs) -------
    pages = spark.read.parquet(_corpus(PAGES))
    pipeline_best = _run_pipeline(spark, pages, PAGES, TRIALS)

    # --- per-query timings over the driver testdata -------------------------
    qs = {**entrymod.queries(), **entrymod.extended_queries()}
    query_secs: dict[str, float] = {}
    for name in BENCH_QUERIES:
        best = None
        for _ in range(TRIALS):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            # noop sink forces every column to be computed; a count()
            # would let Catalyst prune the similarity expressions
            df.write.mode("overwrite").format("noop").save()
            wall = time.time() - t0
            best = wall if best is None else min(best, wall)
        query_secs[name] = round(best, 3)
    query_secs["pipeline_full"] = pipeline_best["wall_sec"]

    # --- data-proportional corpus: fixed cost amortized -------------------
    # min-of-2 here too: single 300k shots swing +/-15% with host weather
    pipeline_big = None
    if BIG_PAGES:
        big = spark.read.parquet(_corpus(BIG_PAGES))
        pipeline_big = _run_pipeline(spark, big, BIG_PAGES, TRIALS)
        query_secs["pipeline_big"] = pipeline_big["wall_sec"]

    # --- streaming + WARC ingestion (round-6: measured, not claimed) -------
    # the headline + query sections above are the round's authoritative
    # record — a failure in the (longer-running) streaming/ingestion
    # sections must degrade to an error note, never lose the artifact
    def _guarded(flag, fn, *args):
        if os.environ.get(flag, "1") != "1":
            return None
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001
            return {"error": f"{type(e).__name__}: {e}"[:300]}

    streaming = er_stream = warc = None
    if BIG_PAGES:
        streaming = _guarded(
            "RLR_BENCH_STREAMING", _run_streaming_bench, spark, _corpus(BIG_PAGES)
        )
        er_stream = _guarded(
            "RLR_BENCH_ER_STREAM", _run_entity_stream_bench, spark, _corpus(BIG_PAGES)
        )
    warc = _guarded("RLR_BENCH_WARC", _run_warc_bench, spark, TRIALS)

    print(
        json.dumps(
            {
                "metric": "scored_pairs_per_sec",
                "value": pipeline_best["pairs_per_sec"],
                "unit": "pairs/sec",
                "queries": query_secs,
                "sf": sf_name,
                "pipeline": pipeline_best,
                **({"pipeline_big": pipeline_big} if pipeline_big else {}),
                **({"streaming": streaming} if streaming else {}),
                **({"streaming_er": er_stream} if er_stream else {}),
                **({"warc_ingest": warc} if warc else {}),
            }
        )
    )


if __name__ == "__main__":
    main()
