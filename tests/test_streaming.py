"""Structured Streaming smoke: memory sink + processAllAvailable drives
file-source micro-batches to completion synchronously."""

import os

from pyspark.sql import functions as F

from rlr_spark.streaming.ingest import (
    extract_and_key,
    incremental_pairs_batch,
    stream_pages,
    windowed_event_counts,
)


def test_stream_extract_and_key(spark, tmp_path, web_pages_small):
    pages, _ = web_pages_small
    src = str(tmp_path / "stream_src")
    pages.limit(60).write.parquet(src)

    out = extract_and_key(stream_pages(spark, src))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_pages_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM stream_pages_out")
    assert got.count() == 60
    assert {"url", "text", "blk_key", "lang"} <= set(got.columns)
    # extraction in the stream matches the batch text byte-for-byte
    joined = got.select("url", F.col("text").alias("stream_text")).join(
        pages.select("url", "text"), "url"
    )
    assert joined.where(F.col("stream_text") != F.col("text")).count() == 0


def test_incremental_pairs_batch(spark):
    acc = spark.createDataFrame(
        [("a", "k1"), ("b", "k1"), ("c", "k2")], "url string, blk_key string"
    )
    new = spark.createDataFrame([("d", "k1"), ("e", "k9")], "url string, blk_key string")
    pairs, _stats = incremental_pairs_batch(new, acc)
    got = {(r.l_id, r.r_id) for r in pairs.collect()}
    # new node d pairs with existing k1 members only; e has no partner
    assert got == {("a", "d"), ("b", "d")}


def test_incremental_pairs_batch_salted_and_capped(spark):
    """The per-batch probe join must run through the batch path's
    adaptive salting: a hot bucket (one key holding most of the
    accumulated state) is salted across reducers instead of pinning
    one, and blocks above max_block_size are dropped AND counted."""
    import re

    from rlr_spark.plans import physical_plan

    # planted mega-bucket: 600 accumulated rows on one key (~the
    # "one domain = 50% of rows" scenario), 4 rows on a healthy key
    hot = [(f"h{i}", "khot") for i in range(600)]
    cold = [(f"c{i}", "kcold") for i in range(4)]
    acc = spark.createDataFrame(hot + cold, "url string, blk_key string")
    new = spark.createDataFrame(
        [("n1", "khot"), ("n2", "kcold")], "url string, blk_key string"
    )

    # uncapped: the hot key must be SALTED — the join keys include _salt
    pairs, stats = incremental_pairs_batch(
        new, acc, salt_k=4, max_block_size=None, salt_threshold=100
    )
    assert re.search(r"Join \[blk_key#\d+, _salt", physical_plan(pairs)), (
        "hot-bucket join is not salted"
    )
    got = {(r.l_id, r.r_id) for r in pairs.collect()}
    assert ("c0", "n2") in got and ("h0", "n1") in got
    # n1 pairs with 600 hot rows; n2 with 4 cold rows; n1-n2 share no key
    assert len(got) == 604

    # capped: the mega-bucket is dropped and LOGGED via stats, the
    # healthy key still pairs
    capped, stats = incremental_pairs_batch(
        new, acc, salt_k=4, max_block_size=100, salt_threshold=100
    )
    got_capped = {(r.l_id, r.r_id) for r in capped.collect()}
    assert got_capped == {("c0", "n2"), ("c1", "n2"), ("c2", "n2"), ("c3", "n2")}
    assert stats.n_dropped_blocks == 1 and stats.n_dropped_rows >= 600


def test_windowed_event_counts(spark, tmp_path):
    events = spark.createDataFrame(
        [
            ("2024-01-01 00:00:30", "click", 1.0),
            ("2024-01-01 00:01:10", "click", 2.0),
            ("2024-01-01 00:07:00", "view", 5.0),
        ],
        "ts_s string, event_type string, value double",
    ).select(F.to_timestamp("ts_s").alias("ts"), "event_type", "value")
    src = str(tmp_path / "events_src")
    events.write.parquet(src)

    stream = (
        spark.readStream.format("parquet")
        .schema("ts timestamp, event_type string, value double")
        .load(src)
    )
    agg = windowed_event_counts(stream, window="5 minutes")
    # complete mode so a single static micro-batch emits all windows;
    # append mode would wait for the watermark to pass a window's end,
    # which a one-batch file source never advances far enough for
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("event_counts_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (str(r.window_start), r.event_type): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM event_counts_out").collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 00:05:00", "view")] == (1, 5.0)


def test_incremental_neardup_stream(spark, tmp_path):
    """foreachBatch incremental MinHash-LSH: a near-dup arriving in a
    later micro-batch pairs with its batch-1 original exactly once."""
    from rlr_spark.streaming.ingest import incremental_neardup_stream

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "lambda")  # token-jaccard 9/11 ≈ 0.818
    far = "one two three four five six seven eight nine ten"

    src = str(tmp_path / "nd_src")
    b1 = spark.createDataFrame(
        [("u1", base), ("u2", far)], "url string, text string"
    ).selectExpr(
        "url", "cast(null as timestamp) warc_ts", "cast(null as binary) html",
        "text", "cast(null as string) lang",
    )
    b2 = spark.createDataFrame(
        [("u3", near), ("u4", base)], "url string, text string"
    ).selectExpr(
        "url", "cast(null as timestamp) warc_ts", "cast(null as binary) html",
        "text", "cast(null as string) lang",
    )
    b1.coalesce(1).write.parquet(src + "/f1")
    b2.coalesce(1).write.parquet(src + "/f2")

    work = str(tmp_path / "nd_work")
    q = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.l_id, r.r_id)
        for r in spark.read.parquet(work + "/pairs").collect()
    }
    # u4 == base exactly; u3 is the near-dup; u2 pairs with nothing
    assert got == {("u1", "u3"), ("u1", "u4"), ("u3", "u4")}
    # exactly-once: no duplicated pair rows across batches
    assert spark.read.parquet(work + "/pairs").count() == 3

    # --- at-least-once replay guards -------------------------------------
    # a restart with a WIPED checkpoint replays every batch; the
    # per-batch markers + the anti-join against accumulated docs must
    # keep pairs and state byte-identical (no duplicate emission)
    import shutil

    shutil.rmtree(work + "/_ckpt")
    # a recurring url (u1 again) plus one genuinely new unrelated doc
    b3 = spark.createDataFrame(
        [("u1", base), ("u5", "mu nu xi omicron pi rho sigma tau")],
        "url string, text string",
    ).selectExpr(
        "url", "cast(null as timestamp) warc_ts", "cast(null as binary) html",
        "text", "cast(null as string) lang",
    )
    b3.coalesce(1).write.parquet(src + "/f3")
    q2 = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert spark.read.parquet(work + "/pairs").count() == 3  # nothing re-emitted
    # recurring u1 was anti-joined away: state holds one row per url
    docs = spark.read.parquet(work + "/docs")
    assert docs.count() == docs.select("url").distinct().count() == 5


def test_streaming_torn_write_replays_exactly_once(spark, tmp_path):
    """Crash INSIDE a batch's write sequence (pairs+keys landed, docs and
    the marker did not): the replayed batch must OVERWRITE its own
    _batch_id partitions, leaving zero duplicate pair/key/doc rows —
    the dynamic-partition-overwrite exactly-once guarantee."""
    import glob
    import shutil

    from rlr_spark.streaming.ingest import incremental_neardup_stream

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "lambda")  # token-jaccard ≈ 0.818

    src = str(tmp_path / "torn_src")
    batches = [
        [("u1", base), ("u2", "one two three four five six")],
        [("u3", near)],
        # u4 appears TWICE with different texts: the per-url pick must be
        # deterministic (min text = base) so a replay regenerates the
        # exact same band keys and overwrites the exact same partitions
        [("u4", "zz unrelated words here entirely"), ("u4", base)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "url string, text string").selectExpr(
            "url", "cast(null as timestamp) warc_ts", "cast(null as binary) html",
            "text", "cast(null as string) lang",
        ).coalesce(1).write.parquet(f"{src}/f{i}")

    work = str(tmp_path / "torn_work")
    q = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        # the restart below reuses the SAME checkpoint dir: wait for the
        # first query to fully deregister it
        q.awaitTermination(30)
    expected = {("u1", "u3"), ("u1", "u4"), ("u3", "u4")}
    assert {
        (r.l_id, r.r_id) for r in spark.read.parquet(work + "/pairs").collect()
    } == expected

    # --- simulate the torn batch 2: its commit + marker + docs write are
    # lost, its pairs/keys partitions DID land (the worst-case window)
    import os

    os.remove(os.path.join(work, "_ckpt", "commits", "2"))
    # the local ChecksumFs keeps a CRC sidecar; a real crash loses both
    crc = os.path.join(work, "_ckpt", "commits", ".2.crc")
    if os.path.exists(crc):
        os.remove(crc)
    os.remove(os.path.join(work, "_ckpt", "_applied", "batch_2"))
    # a real crash inside batch 2 happens BEFORE the marker write, hence
    # before the watermark advance — rewind it with the marker, or the
    # simulated state would be the tampered shape the guard refuses
    with open(os.path.join(work, "_watermark"), "w") as f:
        f.write("1")
    for d in glob.glob(os.path.join(work, "docs", "_ub=*", "_batch_id=2")):
        shutil.rmtree(d)

    q2 = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    pairs = spark.read.parquet(work + "/pairs")
    assert {(r.l_id, r.r_id) for r in pairs.collect()} == expected
    assert pairs.count() == 3  # overwritten in place, never appended twice
    keys = spark.read.parquet(work + "/keys")
    assert keys.count() == keys.select("url", "blk_key").distinct().count()
    docs = spark.read.parquet(work + "/docs")
    assert sorted(r.url for r in docs.select("url").collect()) == [
        "u1", "u2", "u3", "u4",
    ]


def test_streaming_state_bucket_pruning(spark, tmp_path):
    """The accumulated keys/docs tables are hive-partitioned by state
    bucket; a probe restricted to a bucket subset must PRUNE the scan to
    those buckets' files instead of rescanning all state."""
    from pyspark.sql import functions as F

    from rlr_spark.plans import physical_plan
    from rlr_spark.streaming.ingest import incremental_neardup_stream

    src = str(tmp_path / "bkt_src")
    for i in range(3):  # 3 epochs of unrelated docs -> state grows
        spark.createDataFrame(
            [(f"e{i}d{j}", f"epoch{i} doc{j} " + " ".join(
                f"w{i}_{j}_{k}" for k in range(8))) for j in range(4)],
            "url string, text string",
        ).selectExpr(
            "url", "cast(null as timestamp) warc_ts", "cast(null as binary) html",
            "text", "cast(null as string) lang",
        ).coalesce(1).write.parquet(f"{src}/f{i}")

    work = str(tmp_path / "bkt_work")
    q = incremental_neardup_stream(
        spark, src + "/*", work, jaccard_threshold=0.8, state_buckets=64
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    keys = spark.read.parquet(work + "/keys")
    total_files = len(keys.inputFiles())
    kbs = sorted(r._kb for r in keys.select("_kb").distinct().collect())
    assert len(kbs) > 1, "need multiple buckets to demonstrate pruning"
    probe_kbs = kbs[: max(1, len(kbs) // 4)]
    pruned = keys.where(F.col("_kb").isin(probe_kbs))
    # the filter must reach the scan as a PARTITION filter...
    plan = physical_plan(pruned)
    assert "PartitionFilters" in plan and "_kb" in plan.split("PartitionFilters")[1][:200]
    # ...and the executed scan must read strictly fewer files than the
    # full state (constant in the untouched buckets as state grows)
    scanned = pruned.select(F.input_file_name()).distinct().count()
    assert 0 < scanned < total_files, (scanned, total_files)


def test_streaming_restart_with_retained_checkpoint(spark, tmp_path):
    """Normal operational restart (checkpoint KEPT): a file arriving
    after the restart is processed as a NEW batch; already-committed
    batches are not reprocessed (their markers and partitions stay)."""
    import glob
    import os

    from rlr_spark.streaming.ingest import incremental_neardup_stream

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    src = str(tmp_path / "rst_src")
    spark.createDataFrame(
        [("u1", base)], "url string, text string"
    ).selectExpr(
        "url", "cast(null as timestamp) warc_ts", "cast(null as binary) html",
        "text", "cast(null as string) lang",
    ).coalesce(1).write.parquet(src + "/f0")

    work = str(tmp_path / "rst_work")
    q = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    markers_before = set(os.listdir(os.path.join(work, "_ckpt", "_applied")))
    docs_files_before = set(glob.glob(os.path.join(work, "docs", "**", "*.parquet"),
                                      recursive=True))

    # the near-dup of u1 arrives while the query is DOWN
    spark.createDataFrame(
        [("u2", base.replace("kappa", "lambda"))], "url string, text string"
    ).selectExpr(
        "url", "cast(null as timestamp) warc_ts", "cast(null as binary) html",
        "text", "cast(null as string) lang",
    ).coalesce(1).write.parquet(src + "/f1")

    q2 = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    pairs = spark.read.parquet(work + "/pairs")
    assert {(r.l_id, r.r_id) for r in pairs.collect()} == {("u1", "u2")}
    markers_after = set(os.listdir(os.path.join(work, "_ckpt", "_applied")))
    # exactly one new batch applied; batch 0's files untouched
    assert len(markers_after - markers_before) == 1
    assert docs_files_before <= set(
        glob.glob(os.path.join(work, "docs", "**", "*.parquet"), recursive=True)
    )


def _nd_batch(spark, rows):
    return spark.createDataFrame(rows, "url string, text string").selectExpr(
        "url", "cast(null as timestamp) warc_ts", "cast(null as binary) html",
        "text", "cast(null as string) lang",
    )


def test_streaming_state_compaction(spark, tmp_path):
    """Micro-batches, then compact_state: file/partition count is
    bounded, logical content is identical, and a post-compaction epoch
    still finds cross-epoch pairs (state probing intact). Two
    pre-compaction batches are the fewest that give a cross-batch pair
    and a fold of more than one source. Both docs hash to one ``_ub``
    bucket, so the fold reads two source files (two splits) into it:
    without the fold's bucket shuffle that bucket would get two files."""
    import os

    from rlr_spark.streaming.ingest import compact_state, incremental_neardup_stream

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "lambda")
    src = str(tmp_path / "cmp_src")
    _nd_batch(spark, [("u0", base)]).coalesce(1).write.parquet(f"{src}/f00")
    # the near-dup arrives in the last pre-compaction batch; "u35" shares
    # u0's docs bucket (pmod(xxhash64(url), 64) == 47 for both)
    _nd_batch(spark, [("u35", near)]).coalesce(1).write.parquet(f"{src}/f01")
    n_batches = 2

    work = str(tmp_path / "cmp_work")
    q = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def snapshot(table):
        df = spark.read.parquet(f"{work}/{table}")
        cols = [c for c in df.columns if not c.startswith("_")]
        return sorted(map(tuple, df.select(*cols).collect()))

    def batch_dirs(table):
        return [
            d for root, dirs, _ in os.walk(f"{work}/{table}")
            for d in dirs if d.startswith("_batch_id=")
        ]

    def parquet_files(table):
        return sum(
            1 for root, _dirs, files in os.walk(f"{work}/{table}")
            for f in files if f.endswith(".parquet")
        )

    def bucket_dirs(table, col):
        return {
            d for _r, dirs, _f in os.walk(f"{work}/{table}")
            for d in dirs if d.startswith(f"{col}=")
        }

    before = {t: snapshot(t) for t in ("keys", "docs", "pairs")}
    assert [p[:2] for p in before["pairs"]] == [("u0", "u35")]
    assert len(set(batch_dirs("docs"))) == n_batches  # one partition per batch
    assert len(bucket_dirs("docs", "_ub")) == 1  # both docs share a bucket

    res = compact_state(spark, work)
    assert res["docs"]["sources"] == n_batches and res["docs"]["cid"] == -1
    for t in ("keys", "docs", "pairs"):
        assert snapshot(t) == before[t], t  # logical content untouched
    for t in ("keys", "docs"):
        assert set(batch_dirs(t)) == {"_batch_id=-1"}, t
    # pairs: only batches that emitted pairs wrote partitions (one here),
    # so there was nothing to fold yet — single partition either way
    assert len(set(batch_dirs("pairs"))) == 1
    # one file per touched bucket directory for the bucketed tables
    assert parquet_files("docs") == len(bucket_dirs("docs", "_ub"))
    assert parquet_files("keys") == len(bucket_dirs("keys", "_kb"))

    # idempotent second call: single consolidated partition -> no-op
    res2 = compact_state(spark, work)
    assert res2["docs"]["sources"] == 1 and res2["docs"]["cid"] is None

    # --- post-compaction epoch: accumulated state must still probe -----
    _nd_batch(
        spark, [("u_post", base.replace("alpha", "omega"))]
    ).coalesce(1).write.parquet(f"{src}/f02")
    q2 = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = {(r.l_id, r.r_id) for r in spark.read.parquet(f"{work}/pairs").collect()}
    # u_post differs from u0 in one token (9/11 = 0.818 >= 0.8) but from
    # u35 in two (8/12 = 0.667 < 0.8)
    assert got == {("u0", "u35"), ("u0", "u_post")}

    # second compaction folds the consolidated partition + the new epoch
    res3 = compact_state(spark, work)
    assert res3["docs"]["cid"] == -2
    assert res3["pairs"]["sources"] == 2  # batch-1 pairs + batch-2 pairs
    assert parquet_files("pairs") == 1
    assert {(r.l_id, r.r_id) for r in spark.read.parquet(f"{work}/pairs").collect()} == got


def test_compaction_crash_recovery(spark, tmp_path):
    """A fold crashed mid-write (pending marker + torn output) must be
    rolled back from the intact sources; one crashed after commit (done
    marker) must finish dropping its sources — both on the next call."""
    import json
    import os
    import shutil

    from rlr_spark.streaming.ingest import compact_state, incremental_neardup_stream

    src = str(tmp_path / "rec_src")
    for i in range(4):
        _nd_batch(spark, [(f"u{i}", f"doc {i} " + " ".join(f"w{i}{j}" for j in range(8)))]
                  ).coalesce(1).write.parquet(f"{src}/f{i}")
    work = str(tmp_path / "rec_work")
    q = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    docs = spark.read.parquet(f"{work}/docs")
    want = sorted(map(tuple, docs.select("url", "text").collect()))

    # --- pending crash: torn consolidated output, sources intact -------
    os.makedirs(f"{work}/_compact", exist_ok=True)
    torn = docs.limit(2).drop("_batch_id").withColumn("_batch_id", F.lit(-1).cast("int"))
    (torn.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy("_ub", "_batch_id").parquet(f"{work}/docs"))
    with open(f"{work}/_compact/docs.json", "w") as f:
        json.dump({"phase": "pending", "cid": -1, "sources": [0, 1, 2, 3]}, f)
    compact_state(spark, work, tables=("docs",))
    after = spark.read.parquet(f"{work}/docs")
    assert sorted(map(tuple, after.select("url", "text").collect())) == want
    assert set(r._batch_id for r in after.select("_batch_id").distinct().collect()) == {-1}

    # --- done crash: fold durable, sources not yet dropped -------------
    # simulate: consolidated partition exists AND a stale source remains
    stale = after.limit(1).drop("_batch_id").withColumn("_batch_id", F.lit(7).cast("int"))
    (stale.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("_ub", "_batch_id").parquet(f"{work}/docs"))
    with open(f"{work}/_compact/docs.json", "w") as f:
        json.dump({"phase": "done", "cid": -1, "sources": [7]}, f)
    compact_state(spark, work, tables=("docs",))
    after2 = spark.read.parquet(f"{work}/docs")
    assert sorted(map(tuple, after2.select("url", "text").collect())) == want
    shutil.rmtree(work)


def test_stream_warc_segments(spark, tmp_path):
    """Live crawl ingestion: WARC segments landing in a directory are
    picked up per micro-batch, parsed, and flow through the SAME
    extract/key projection as the parquet stream — with byte-identical
    extraction vs the batch reader."""
    from rlr_spark.datagen import write_web_pages_warc
    from rlr_spark.sources.warc import warc_web_pages
    from rlr_spark.streaming.ingest import stream_warc_pages

    crawl = tmp_path / "crawl"
    glob, _ = write_web_pages_warc(str(crawl), n_pages=120, seed=9, n_segments=3)
    seg_dir = str(crawl / "warc")

    out = extract_and_key(stream_warc_pages(spark, seg_dir))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("warc_stream_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # a NEW segment landing mid-stream is picked up by the next batch
        import shutil

        late = tmp_path / "late"
        write_web_pages_warc(str(late), n_pages=40, seed=77, n_segments=1)
        shutil.copy(
            str(late / "warc" / "seg-00000.warc.gz"),
            seg_dir + "/seg-late.warc.gz",
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM warc_stream_out")
    assert got.count() == 160
    assert {"url", "warc_ts", "text", "blk_key"} <= set(got.columns)
    # stream text == batch-reader text, byte for byte
    batch = warc_web_pages(spark, seg_dir + "/*.warc.gz")
    from rlr_spark.operators.extract import extract_text

    batch_text = extract_text(batch).select("url", F.col("text").alias("bt"))
    joined = got.select("url", "text").join(batch_text, "url")
    assert joined.count() == 160
    assert joined.where(F.col("text") != F.col("bt")).count() == 0


def test_streaming_incremental_entities(spark, tmp_path):
    """Full incremental-ER composition: the near-dup stream folds each
    batch's verified pairs into EntityState, and after three file drops
    — the third BRIDGING two entities formed in earlier batches — the
    streamed assignments equal a from-scratch CC over all emitted
    pairs, alias resolution included."""
    from pyspark.sql import functions as F

    from rlr_spark.operators.cluster import connected_components
    from rlr_spark.streaming.entities import EntityState
    from rlr_spark.streaming.ingest import incremental_neardup_stream

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "lambda")
    far = "one two three four five six seven eight nine ten"
    far_near = far.replace("ten", "eleven")
    bridge = base.replace("alpha", "omega")  # near both base and near

    def drop(name, rows):
        spark.createDataFrame(rows, "url string, text string").selectExpr(
            "url", "cast(null as timestamp) warc_ts", "cast(null as binary) html",
            "text", "cast(null as string) lang",
        ).coalesce(1).write.parquet(str(tmp_path / "src" / name))

    drop("f1", [("u1", base), ("u2", far)])
    drop("f2", [("u3", near), ("u4", far_near)])
    drop("f3", [("u5", bridge)])

    st = EntityState(spark, str(tmp_path / "ents"), buckets=8)
    q = incremental_neardup_stream(
        spark, str(tmp_path / "src") + "/*", str(tmp_path / "work"),
        jaccard_threshold=0.8, entity_state=st,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    pairs = spark.read.parquet(str(tmp_path / "work") + "/pairs")
    edges = pairs.select(F.xxhash64("l_id").alias("u"), F.xxhash64("r_id").alias("v"))
    comp = connected_components(edges)
    urls = spark.createDataFrame(
        [(f"u{i}",) for i in range(1, 6)], "node string"
    )
    truth = {
        r.node: r.entity
        for r in urls.withColumn("_uid", F.xxhash64("node"))
        .join(comp, F.col("_uid") == comp["node"], "left")
        .select(urls["node"], F.coalesce(comp["entity_id"], F.col("_uid")).alias("entity"))
        .collect()
    }
    got = {r.node: r.entity for r in st.assignments().collect()}
    assert got == truth
    # semantics of the plant: {u1,u3,u5} one entity, {u2,u4} another
    assert got["u1"] == got["u3"] == got["u5"]
    assert got["u2"] == got["u4"] != got["u1"]


def test_streaming_wiped_checkpoint_over_retained_state(spark, tmp_path):
    """ADVICE r5: wiping the checkpoint while the work dir is retained
    renumbers batch ids from 0 — a genuinely-new batch 0 would then
    dynamic-overwrite old batch 0's partitions in every (bucket, 0)
    leaf it touches. The generation scheme (token in the checkpoint,
    offset + watermark in the state dir, which shares fate with the
    state) maps the restarted ids onto a fresh range past the
    watermark: old partitions are untouched, new AND replayed files
    apply safely (the docs anti-join reduces replays to no-ops)."""
    import glob
    import shutil

    from rlr_spark.streaming.ingest import incremental_neardup_stream
    from rlr_spark.streaming.state import applied_watermark

    src = str(tmp_path / "wg_src")
    work = str(tmp_path / "wg_work")
    _nd_batch(spark, [("u1", "alpha beta gamma delta")]).coalesce(1).write.parquet(
        src + "/f0"
    )
    q = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert applied_watermark(work) == 0  # in the WORK dir, not _ckpt

    # checkpoint wiped (markers + generation token go with it), state
    # retained; a NEW file lands -> the restarted stream renumbers from
    # 0 and replays f0 too. A fresh generation offsets all of it past
    # the watermark; f0's replay anti-joins to nothing.
    shutil.rmtree(os.path.join(work, "_ckpt"))
    _nd_batch(spark, [("u9", "totally different words here")]).coalesce(
        1
    ).write.parquet(src + "/f1")
    docs_before = sorted(glob.glob(os.path.join(work, "docs", "**", "*.parquet"),
                                   recursive=True))
    q2 = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # old batch 0's docs files are exactly as they were (no overwrite),
    # and the new url was accumulated under a post-watermark id
    docs_after = sorted(
        glob.glob(os.path.join(work, "docs", "**", "*.parquet"), recursive=True)
    )
    assert set(docs_before) <= set(docs_after)
    urls = {
        r["url"]
        for r in spark.read.parquet(os.path.join(work, "docs")).collect()
    }
    assert urls == {"u1", "u9"}
    assert applied_watermark(work) >= 1  # advanced past the old range


def test_streaming_auto_compaction(spark, tmp_path):
    """compact_every=N folds state partitions from inside foreachBatch
    (synchronous, so the source-batch set cannot move under the fold):
    after 3 single-file batches with compact_every=2 exactly batches 0
    and 1 are folded into a consolidated negative partition, batch 2 is
    live, and results are identical to the uncompacted stream —
    including cross-epoch pair discovery (batch 2 pairs with the folded
    u0). Three batches are the fewest that give a post-fold batch; a
    trigger one batch late would fold all three."""
    import glob
    import re

    from rlr_spark.streaming.ingest import incremental_neardup_stream

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batches = [
        [("u0", base)], [("u1", base.replace("kappa", "lambda"))],
        [("u2", base.replace("alpha", "omega"))],
    ]
    src = str(tmp_path / "ac_src")
    for i, rows in enumerate(batches):
        _nd_batch(spark, rows).coalesce(1).write.parquet(f"{src}/f{i}")

    def run(work, **kw):
        q = incremental_neardup_stream(
            spark, src + "/*", work, jaccard_threshold=0.8, **kw
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {
            (r.l_id, r.r_id)
            for r in spark.read.parquet(work + "/pairs").collect()
        }

    plain = run(str(tmp_path / "ac_plain"))
    auto_work = str(tmp_path / "ac_auto")
    auto = run(auto_work, compact_every=2)
    # u1 and u2 each differ from u0 in one token (9/11 = 0.818 >= 0.8),
    # from each other in two (8/12 = 0.667 < 0.8)
    assert auto == plain == {("u0", "u1"), ("u0", "u2")}

    ids = set()
    for d in glob.glob(auto_work + "/keys/**/_batch_id=*", recursive=True):
        ids.add(int(re.search(r"_batch_id=(-?\d+)", d).group(1)))
    assert {b for b in ids if b >= 0} == {2}, ids  # folded at batch 1
    assert any(b < 0 for b in ids), ids  # the consolidated fold

    # docs table intact (anti-join state) — all three urls, exactly once
    docs = spark.read.parquet(auto_work + "/docs")
    assert sorted(r.url for r in docs.select("url").collect()) == [
        f"u{i}" for i in range(3)
    ]


def test_compaction_crash_between_commit_and_done_marker(spark, tmp_path):
    """The narrow window compact_state's own recovery couldn't reach
    without being called again: fold committed, marker still short of
    cleanup, SOURCES still on disk — a restarted stream would read every
    folded row twice. recover_compaction at stream construction closes
    it (and the 'pending' phase discards a torn fold instead)."""
    import glob
    import json
    import os
    import re
    import shutil

    from rlr_spark.streaming.ingest import (
        compact_state,
        incremental_neardup_stream,
        recover_compaction,
    )

    src = str(tmp_path / "cw_src")
    work = str(tmp_path / "cw_work")
    for i in range(3):
        _nd_batch(spark, [(f"w{i}", f"text number {i} entirely distinct")]) \
            .coalesce(1).write.parquet(f"{src}/f{i}")
    q = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    keys = spark.read.parquet(work + "/keys")
    n_rows = keys.count()

    # snapshot the source partitions, compact, then RESTORE the sources
    # and a marker — exactly the states a crash leaves behind
    snap = str(tmp_path / "snap")
    shutil.copytree(work + "/keys", snap)
    res = compact_state(spark, work, tables=("keys",))
    cid = res["keys"]["cid"]
    assert cid is not None and cid < 0

    def restore_sources():
        out = []
        for d in glob.glob(snap + "/**/_batch_id=*", recursive=True):
            b = int(re.search(r"_batch_id=(-?\d+)", d).group(1))
            if b >= 0:
                out.append(b)
                dst = d.replace(snap, work + "/keys")
                if not os.path.isdir(dst):
                    shutil.copytree(d, dst)
        return sorted(set(out))

    os.makedirs(work + "/_compact", exist_ok=True)

    # --- crash AFTER the fold committed, marker still 'pending': the
    # fold is discarded (it may be torn), the sources stay ---------------
    sources = restore_sources()
    with open(work + "/_compact/keys.json", "w") as f:
        json.dump({"phase": "pending", "cid": cid, "sources": sources}, f)
    recover_compaction(work, tables=("keys",))
    remaining = {
        int(re.search(r"_batch_id=(-?\d+)", d).group(1))
        for d in glob.glob(work + "/keys/**/_batch_id=*", recursive=True)
    }
    assert cid not in remaining and set(sources) <= remaining
    assert spark.read.parquet(work + "/keys").count() == n_rows

    # --- crash AFTER the marker flipped 'done', sources not yet dropped:
    # both fold and sources on disk -> a restarted stream would read
    # every folded row twice; construction-time recovery drops sources --
    res2 = compact_state(spark, work, tables=("keys",))
    cid2 = res2["keys"]["cid"]
    sources = restore_sources()
    with open(work + "/_compact/keys.json", "w") as f:
        json.dump({"phase": "done", "cid": cid2, "sources": sources}, f)
    assert spark.read.parquet(work + "/keys").count() == 2 * n_rows  # doubled

    q2 = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    q2.stop()
    assert not os.path.exists(work + "/_compact/keys.json")
    assert spark.read.parquet(work + "/keys").count() == n_rows


def test_state_writes_one_file_per_bucket_leaf(spark, tmp_path):
    """Perf regression pin: per-batch state writes are pre-shuffled onto
    their bucket column, so each (bucket, _batch_id) leaf holds exactly
    ONE parquet file — not one per write task (profiled at 5.3s median
    task wall vs 0.25s CPU when tasks each opened files in every leaf).

    Only the ``keys`` half pins the pre-shuffle. A micro-batch is one
    source file, and AQE coalesces its url ``groupBy`` (under the 1 MB
    minimum partition size) to one partition, so one task writes every
    ``docs`` leaf with or without it (one batch of 12,000 docs, 1.4 MB
    of text and ~35 s, still wrote them from one task). The ``docs``
    check stays as a guard on the result."""
    import glob
    import os

    from rlr_spark.streaming.ingest import incremental_neardup_stream

    src = str(tmp_path / "of_src")
    work = str(tmp_path / "of_work")
    # 4 docs on 2 source files: the batch's key relation spans several
    # tasks whose keys share _kb leaves, so a write that is not
    # pre-shuffled leaves more than one file in a leaf (1 doc does not)
    rows = [(f"u{i}", f"some distinct text number {i} here") for i in range(4)]
    _nd_batch(spark, rows).repartition(2).write.parquet(src + "/f0")
    q = incremental_neardup_stream(spark, src + "/*", work, jaccard_threshold=0.8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    for table, leaf_glob in (
        ("keys", "/keys/_kb=*/_batch_id=*"),
        ("docs", "/docs/_ub=*/_batch_id=*"),
    ):
        leaves = glob.glob(work + leaf_glob)
        assert leaves, table
        for leaf in leaves:
            n = len(glob.glob(os.path.join(leaf, "*.parquet")))
            assert n == 1, (table, leaf, n)
