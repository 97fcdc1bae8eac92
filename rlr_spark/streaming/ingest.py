"""Incremental ingest: stream new web pages through extract + blocking.

The reference is batch-only (SURVEY.md §2.1: "no streaming of any
kind"), but the 10^12-document target is append-heavy: new WARC drops
arrive continuously. This module gives the pipeline's front half a
Structured Streaming shape:

  readStream(web_pages dir OR raw .warc.gz segment dir) -> extract
  text (same Arrow UDF as batch) -> assign blocking keys -> append to
  the extract/keys tables

Candidate *pair* generation stays micro-batch via ``foreachBatch``
(joining a stream against itself for LSH buckets would need full-state
symmetric joins; batch-joining each micro-batch's keys against the
accumulated key table is the standard incremental-ER design and is what
``incremental_pairs_batch`` implements).

Also includes the watermarked windowed-aggregation shape over the
events table, demonstrating late-data handling for monitoring streams.
"""

from __future__ import annotations

import sys

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rlr_spark.operators.blocking import normalized_domain
from rlr_spark.operators.extract import _extract_udf

WEB_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over a web_pages parquet directory."""
    return (
        spark.readStream.format("parquet")
        .schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .load(input_dir)
    )


def stream_warc_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over a directory that CRAWLERS APPEND WARC
    SEGMENTS INTO — the live-ingestion shape of a real crawl: each
    micro-batch picks up newly landed ``.warc.gz`` files (binaryFile
    stream source), parses their gzip members with the same pure-Python
    iterator as the batch reader, and emits the pipeline's
    (url, warc_ts, html) rows. Gzip segments are unsplittable, so
    file-per-task is both the batch AND the streaming decomposition —
    the parse runs inside ``mapInPandas`` identically on either frame.
    Downstream (``extract_and_key`` -> ``incremental_neardup_stream``)
    is unchanged: this is only a new head for the existing stream.
    """
    from rlr_spark.sources.warc import WARC_SCHEMA, pages_projection, records_pdf_gen

    # binaryFile's fixed schema, spelled out because streaming sources
    # must not infer (Spark refuses; at scale inference is a listing
    # pass over the whole directory anyway)
    binary_file_schema = (
        "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(binary_file_schema)
        .option("pathGlobFilter", "*.warc.gz")
        .option("maxFilesPerTrigger", 4)
        .load(input_dir)
        .select("path", "content")
    )
    # parse generator + projection are THE SAME objects the batch reader
    # uses (sources/warc.py) — streaming and batch ingestion cannot
    # silently diverge on filtering, schema, or timestamp parsing
    recs = files.mapInPandas(
        records_pdf_gen(warc_types=("response",), http_status=200), WARC_SCHEMA
    )
    return pages_projection(recs)


def extract_and_key(pages: DataFrame) -> DataFrame:
    """Streaming-safe projection: extract text (Arrow UDF), domain key.
    Narrow ops only — runs identically on batch and stream frames."""
    return (
        pages.withColumn("text", _extract_udf(F.col("html")))
        .withColumn("blk_key", normalized_domain(F.col("url")))
        .drop("html")
    )


def incremental_pairs_batch(
    new_keys: DataFrame,
    accumulated_keys: DataFrame,
    salt_k: int = 8,
    max_block_size: int | None = 10_000,
    salt_threshold: int = 512,
):
    """One micro-batch of incremental candidate pairs: new rows vs
    (accumulated ∪ new), canonicalized. Used inside foreachBatch, where
    ``accumulated_keys`` is the keyed table as of the previous batch.

    Returns ``(pairs, BlockStats)``. The join runs through the same
    adaptive-salting machinery as the batch path
    (:func:`~rlr_spark.operators.blocking.block_pairs_lr`): a hot bucket
    — a mega-domain key, or a degenerate LSH band shared by boilerplate
    pages — would otherwise land its entire join on ONE reducer *every
    micro-batch*, and its candidate count is quadratic in the
    accumulated bucket size. Blocks whose either side exceeds
    ``max_block_size`` are dropped and counted in the returned stats
    (same recall caveat the batch path documents); the probe is
    two-sided-salted above ``salt_threshold``.
    """
    from rlr_spark.operators.blocking import block_pairs_lr

    left = new_keys.select(F.col("url").alias("l_id"), "blk_key")
    right = (
        accumulated_keys.select("url", "blk_key")
        .unionByName(new_keys.select("url", "blk_key"))
        .select(F.col("url").alias("r_id"), "blk_key")
    )
    return block_pairs_lr(
        left,
        right,
        "l_id",
        "r_id",
        salt_k=salt_k,
        max_block_size=max_block_size,
        salt_threshold=salt_threshold,
        pass_name="stream_incr",
        canonicalize=True,
        # the accumulated side dwarfs the batch; keys the batch never
        # touches can't pair — prune them before the size aggregation
        # so per-batch cost tracks the batch, not total state volume
        prune_right_by_left=True,
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked windowed aggregation over events(ts, event_type, value):
    late rows beyond the watermark are dropped, state is bounded."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w, "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def incremental_neardup_stream(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    shingle_k: int = 1,
    bands: int = 32,
    rows_per_band: int = 2,
    salt_k: int = 8,
    max_block_size: int | None = 10_000,
    state_buckets: int = 64,
    entity_state=None,
    compact_every: int | None = None,
):
    """Streaming near-dup detection: readStream -> foreachBatch
    incremental MinHash-LSH -> verified pairs, bucketed parquet state.

    Per micro-batch: band-key the NEW docs, join them against the
    accumulated key table (plus themselves), verify candidates by exact
    token jaccard, then land pairs/keys/docs for the batch. The probe
    side is only the new rows, so a pair is computed in the batch where
    its second member arrives; state is two grow-only parquet tables —
    the batch analogue of the bounded-state rule, and the standard
    incremental-ER shape (joining a stream against itself inside LSH
    buckets would need full-state symmetric stream-stream joins).

    Skew: the per-batch key join runs through the same adaptive-salting
    machinery as the batch path (``salt_k``/``max_block_size`` as in
    :func:`~rlr_spark.operators.blocking.block_pairs_lr`) — a hot LSH
    bucket would otherwise pin one reducer every micro-batch with an
    unbounded candidate count. Dropped oversized blocks are logged to
    the query's stderr with their row counts, never silent.

    State bucketing: the keys table is hive-partitioned by
    ``_kb = pmod(blk_key, state_buckets)`` and the docs table by
    ``_ub = pmod(xxhash64(url), state_buckets)``. Each batch first
    collects the (few) buckets its own keys/urls/candidates touch and
    probes the state with an ``IN`` partition filter, so the scan
    prunes to matching buckets instead of rescanning all accumulated
    state — per-batch IO is proportional to the buckets the batch
    touches, not to total state size. (The parquet directory listing
    itself grows with batch count; :func:`compact_state` folds the
    per-batch partitions into one consolidated partition per bucket at
    epoch boundaries — and a production deployment backs these tables
    with Iceberg, where the same partition spec makes the listing
    metadata-cheap natively.)

    Delivery semantics: ``foreachBatch`` is AT-LEAST-ONCE on restart;
    three guards make the state EFFECTIVELY EXACTLY-ONCE: (a) every
    write is a per-batch *dynamic partition overwrite* (all three
    tables carry a ``_batch_id`` partition column), so a replayed batch
    rewrites its own partitions instead of appending duplicates — a
    crash anywhere inside the write sequence leaves partitions the
    replay simply overwrites; (b) a per-batch marker file skips
    batch_ids whose writes all completed — markers live INSIDE the
    checkpoint dir, so wiping/relocating the checkpoint (which
    renumbers batch_ids from 0) can never match a stale marker against
    brand-new data; (c) new urls are anti-joined against the
    accumulated docs table, so a url recurring in a later input file
    never duplicates state or re-emits its pairs; (d) with
    ``compact_every=N`` the stream folds its per-batch state partitions
    via :func:`compact_state` from inside ``foreachBatch`` whenever N
    live batch partitions accumulate — the production cadence for plain
    parquet, whose directory listing otherwise grows with batch count
    (measured ~1.5 s/batch at 64 buckets; Iceberg metadata removes the
    cost entirely); (e) raw batch ids are
    only unique per CHECKPOINT, so they're mapped to state-lifetime
    effective ids via a generation token + max-applied watermark
    persisted in the state dir — a wiped/relocated checkpoint (ids
    restart from 0) starts a new generation whose effective ids offset
    past everything ever applied, so a genuinely-new batch 0 can never
    dynamic-overwrite old batch 0's retained partitions
    (:func:`rlr_spark.streaming.state.resolve_effective_batch`; a
    watermark/marker consistency backstop additionally refuses
    out-of-band tampering).

    The accumulated keys table is tied to the banding scheme AND the
    bucket count: a ``_scheme`` marker in ``work_dir`` records
    (shingle_k, bands, rows, key-derivation version, state_buckets) and
    a mismatch raises instead of silently missing every cross-epoch
    pair (a bucket-count change would misroute every probe).

    ``entity_state``: an :class:`~rlr_spark.streaming.entities.EntityState`
    to fold each batch's nodes + verified pairs into — incremental
    entity resolution riding the same micro-batches (cluster merges
    across batches land as alias rows; see streaming/entities.py for
    the crash-window analysis of the composition).

    Returns the StreamingQuery; pairs land under ``work_dir + '/pairs'``.
    """
    import os

    from rlr_spark.functions.dedup import _verify_token_jaccard
    from rlr_spark.operators.blocking import lsh_band_keys

    keys_dir = os.path.join(work_dir, "keys")
    docs_dir = os.path.join(work_dir, "docs")
    pairs_dir = os.path.join(work_dir, "pairs")
    ckpt_dir = os.path.join(work_dir, "_ckpt")
    applied_dir = os.path.join(ckpt_dir, "_applied")
    os.makedirs(applied_dir, exist_ok=True)
    # a compaction that crashed between its fold commit and its
    # done-marker flip left BOTH the fold and its sources on disk —
    # resolve that before the first probe reads doubled state
    recover_compaction(work_dir)
    if entity_state is not None:
        # relocate the entity markers INSIDE this stream's checkpoint,
        # for the same reason this stream's own markers live there: a
        # wiped/relocated checkpoint renumbers batch_ids from 0, and a
        # stale marker directory would silently no-op every entity
        # update for the re-streamed corpus (the updates themselves are
        # harmless on replayed urls — the anti-join hands them empty
        # batches — but genuinely new batches must never match old ids)
        entity_state.applied_dir = os.path.join(ckpt_dir, "_ents_applied")
        os.makedirs(entity_state.applied_dir, exist_ok=True)

    scheme = (
        f"minhash-k{shingle_k}-b{bands}-r{rows_per_band}"
        f"-hashed-shingles-v3-B{state_buckets}"
    )
    scheme_path = os.path.join(work_dir, "_scheme")
    if os.path.exists(scheme_path):
        with open(scheme_path) as f:
            existing = f.read().strip()
        if existing != scheme:
            raise ValueError(
                f"work_dir {work_dir} holds keys built with scheme "
                f"'{existing}', incompatible with '{scheme}' — new docs "
                "would never collide with accumulated keys (silent recall "
                "loss). Rebuild the state or use a fresh work_dir."
            )
    else:
        with open(scheme_path + ".tmp", "w") as f:
            f.write(scheme)
        os.replace(scheme_path + ".tmp", scheme_path)

    B = state_buckets

    def _url_bucket(c) -> Column:
        return F.pmod(F.xxhash64(c), F.lit(B)).cast("int")

    def _key_bucket(c) -> Column:
        return F.pmod(c, F.lit(B)).cast("int")

    # shared exactly-once state discipline (streaming/state.py) — one
    # copy of the read-probe / dynamic-overwrite / marker machinery for
    # this stream AND EntityState
    from rlr_spark.streaming.state import advance_watermark as _advance_wm
    from rlr_spark.streaming.state import (
        guard_renumbered_stream as _guard_renumbered,
    )
    from rlr_spark.streaming.state import (
        resolve_effective_batch as _resolve_batch,
    )
    from rlr_spark.streaming.state import (
        overwrite_batch_partition as _shared_overwrite,
    )
    from rlr_spark.streaming.state import read_or_empty as _shared_read
    from rlr_spark.streaming.state import write_marker as _write_marker

    def _read_or_empty(path: str, schema: str, part_cols: str) -> DataFrame:
        return _shared_read(spark, path, schema + ", " + part_cols)

    def _overwrite_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
        # only the (_*, _batch_id) leaves PRESENT in df are replaced — a
        # replayed batch rewrites its own partitions, others untouched
        _shared_overwrite(df, path, batch_id, bucket_cols=("_kb", "_ub"))

    def _buckets_of(df: DataFrame, col) -> list[int]:
        """The distinct state buckets a (tiny, checkpointed) per-batch
        relation touches — drives the probe's partition filter."""
        return [r.b for r in df.select(col.alias("b")).distinct().collect()]

    def _pruned(state: DataFrame, bucket_col: str, buckets: list[int]) -> DataFrame:
        if len(buckets) >= B:
            return state  # batch touches every bucket: no filter to push
        return state.where(F.col(bucket_col).isin(buckets))

    def _process(batch_df: DataFrame, raw_batch_id: int) -> None:
        # map the checkpoint-scoped raw id to a state-lifetime-unique
        # effective id (survives checkpoint wipes: a new checkpoint
        # generation offsets past the watermark — streaming/state.py)
        batch_id = _resolve_batch(work_dir, applied_dir, raw_batch_id)
        marker = os.path.join(applied_dir, f"batch_{batch_id}")
        if os.path.exists(marker):  # fully-applied batch replayed: skip
            # catch the watermark up — covers a crash between the marker
            # write and the watermark advance (monotonic, no-op otherwise)
            _advance_wm(work_dir, batch_id)
            return
        # backstop against out-of-band tampering (cannot fire for wipe
        # or crash-replay scenarios — see guard docstring)
        _guard_renumbered(work_dir, applied_dir, batch_id)
        raw = (
            batch_df.select("url", F.col(text_col).alias("text"))
            # DETERMINISTIC per-url pick (min text), not dropDuplicates:
            # dropDuplicates keeps an arrival-order-dependent row, so a
            # REPLAY of a crashed batch could pick a different text whose
            # band keys land in different _kb partitions — the dynamic
            # overwrite would then replace only the new partitions and
            # orphan the crashed attempt's key rows. min() makes replays
            # byte-identical, which is what the per-batch partition
            # overwrite needs to be exactly-once.
            .groupBy("url")
            .agg(F.min("text").alias("text"))
            .localCheckpoint(eager=True)
        )
        acc_docs = _read_or_empty(
            docs_dir, "url string, text string", "_ub int, _batch_id int"
        )
        # a url's docs row always lives in its own _ub bucket, so the
        # anti-join only needs the buckets this batch's urls hash to
        batch_ubs = _buckets_of(raw, _url_bucket(F.col("url")))
        batch = (
            # recurring or partially-replayed urls are already state
            raw.join(
                _pruned(acc_docs, "_ub", batch_ubs).select("url"), "url", "left_anti"
            ).localCheckpoint(eager=True)
        )
        new_keys = lsh_band_keys(
            batch, "url", "text", shingle_k=shingle_k, bands=bands,
            rows_per_band=rows_per_band,
        ).localCheckpoint(eager=True)
        acc_keys = _read_or_empty(
            keys_dir, "url string, blk_key long", "_kb int, _batch_id int"
        )
        batch_kbs = _buckets_of(new_keys, _key_bucket(F.col("blk_key")))
        cand, stats = incremental_pairs_batch(
            new_keys,
            _pruned(acc_keys, "_kb", batch_kbs).select("url", "blk_key"),
            salt_k=salt_k,
            max_block_size=max_block_size,
        )
        if stats.n_dropped_blocks:
            print(
                f"[incremental_neardup_stream] batch {batch_id}: dropped "
                f"{stats.n_dropped_blocks} over-cap blocks "
                f"({stats.n_dropped_rows} rows, cap {max_block_size})",
                file=sys.stderr,
            )
        cand = cand.localCheckpoint(eager=True)
        # the verify join needs the text of every candidate endpoint —
        # prune the docs scan to the buckets those urls hash to
        cand_ubs = _buckets_of(
            cand.select(
                F.explode(
                    F.array(_url_bucket(F.col("l_id")), _url_bucket(F.col("r_id")))
                ).alias("u")
            ),
            F.col("u"),
        )
        all_docs = (
            _pruned(acc_docs, "_ub", cand_ubs)
            .select("url", "text")
            .unionByName(batch.select("url", "text"))
        )
        verified = _verify_token_jaccard(
            cand, all_docs, "url", "text", jaccard_threshold
        )
        if entity_state is not None:
            # incremental ER composition: fold this batch's nodes+pairs
            # into the cluster state BEFORE this stream's own writes —
            # EntityState keeps its own marker and reads exclude its own
            # partitions, so every crash window replays consistently:
            # a crash before its marker replays with identical inputs
            # (docs not yet written -> the batch recomputes byte-equal);
            # after its marker, the replayed update is a no-op while the
            # near-dup writes complete
            verified = verified.localCheckpoint(eager=True)
            entity_state.update(
                batch.select(F.col("url").alias("node")), verified, batch_id
            )
        _overwrite_batch_partition(verified, pairs_dir, batch_id)
        _overwrite_batch_partition(
            new_keys.withColumn("_kb", _key_bucket(F.col("blk_key"))),
            keys_dir,
            batch_id,
        )
        _overwrite_batch_partition(
            batch.select("url", "text").withColumn("_ub", _url_bucket(F.col("url"))),
            docs_dir,
            batch_id,
        )
        _write_marker(applied_dir, f"batch_{batch_id}")  # atomic: kill-safe
        # watermark lives in the STATE dir (shares fate with keys/docs/
        # pairs, survives a checkpoint wipe) — see _guard_renumbered
        _advance_wm(work_dir, batch_id)
        # AUTO-COMPACTION (opt-in): per-batch partitions make the
        # parquet listing grow ~linearly with batch count (measured
        # ~1.5 s/batch at 64 buckets — bench.py streaming section);
        # fold once the live batch-partition count reaches the epoch.
        # Safe HERE because foreachBatch is synchronous: the next
        # micro-batch cannot start until this returns, so the
        # source-batch set cannot move under the fold (the same
        # stopped-query precondition compact_state documents). This
        # batch's OWN partitions are applied (marker just written), so
        # they fold too; a crash mid-fold is covered by the pending/
        # done marker protocol + recover_compaction at restart.
        if compact_every:
            live = set()
            for _root, _dirs, _ in os.walk(keys_dir):
                for d in _dirs:
                    if d.startswith("_batch_id=") and int(d.split("=")[1]) >= 0:
                        live.add(int(d.split("=")[1]))
            if len(live) >= compact_every:
                compact_state(batch_df.sparkSession, work_dir)

    return (
        spark.readStream.format("parquet")
        .schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(input_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", ckpt_dir)
        .start()
    )


def recover_compaction(
    work_dir: str,
    tables: tuple[str, ...] = ("keys", "docs", "pairs"),
) -> None:
    """Finish or discard a :func:`compact_state` fold interrupted by a
    crash — driver-side file ops only, no Spark session needed.

    The exposure this closes: a crash AFTER the consolidated partition
    committed but BEFORE the marker flipped to ``done`` (or before the
    sources were dropped) leaves BOTH the fold and its sources on disk;
    a restarted stream that never calls :func:`compact_state` again
    would read every folded row twice. Runs at stream construction
    (:func:`incremental_neardup_stream`) and at :func:`compact_state`
    entry — both idempotent: ``pending`` means the fold output may be
    torn (its committed form, if any, is deleted; sources are intact),
    ``done`` means the fold is durable (its sources are deleted).
    """
    import json
    import os
    import shutil

    compact_dir = os.path.join(work_dir, "_compact")

    def _partition_dirs(path: str, batch_id: int) -> list[str]:
        out = []
        for root, dirs, _files in os.walk(path):
            for d in dirs:
                if d == f"_batch_id={batch_id}":
                    out.append(os.path.join(root, d))
        return out

    for t in tables:
        path = os.path.join(work_dir, t)
        marker = os.path.join(compact_dir, f"{t}.json")
        if not os.path.exists(marker):
            continue
        with open(marker) as f:
            m = json.load(f)
        doomed = [m["cid"]] if m["phase"] == "pending" else m["sources"]
        for b in doomed:
            for d in _partition_dirs(path, b):
                shutil.rmtree(d, ignore_errors=True)
        os.remove(marker)


def compact_state(
    spark: SparkSession,
    work_dir: str,
    tables: tuple[str, ...] = ("keys", "docs", "pairs"),
) -> dict:
    """Fold per-batch state partitions into one consolidated partition.

    The stream's exactly-once discipline writes every batch into its own
    ``_batch_id`` partition, so the parquet directory listing grows with
    batch count (documented in :func:`incremental_neardup_stream`; at
    production scale Iceberg makes the listing metadata-cheap). This is
    the epoch-boundary answer for plain parquet: rewrite the fully
    applied batch partitions — plus any previous consolidation — into a
    single fresh consolidated partition per state bucket (one file per
    bucket), then drop the sources. Logical content is untouched
    (tested: the replay oracle stays hash-identical) and partition
    PRUNING is untouched (the bucket column stays the outer partition
    level; ``_batch_id`` was never pruned on).

    Call between epochs, with the streaming query STOPPED — the
    source-batch set must not move underneath the fold. (The stream's
    opt-in ``compact_every`` calls this from INSIDE ``foreachBatch``,
    which satisfies the same precondition: foreachBatch is synchronous,
    so no other batch can write while the fold runs.)

    Crash safety mirrors the stream's write-then-marker discipline, per
    table: (1) a ``pending`` marker (consolidation id + source ids) is
    persisted BEFORE any data write; (2) the consolidated rows land as
    a dynamic partition overwrite under a fresh negative ``_batch_id``
    distinct from every live partition (a torn write can only produce
    partitions that recovery deletes before the id could ever be
    reused); (3) the marker flips atomically to ``done``;
    (4) source partitions are deleted (idempotent); (5) the marker is
    removed. Recovery on entry: a ``pending`` marker means the data
    write may be torn — delete the consolidation-id partitions (sources
    are intact) and start over; a ``done`` marker means the fold is
    durable — finish deleting its sources. Batches whose applied marker
    is missing (a torn final batch awaiting streaming replay) are NEVER
    folded: the replay must overwrite its own ``_batch_id`` partition.

    Returns per-table ``{"sources": n_folded, "cid": consolidated_id}``.
    """
    import json
    import os
    import shutil

    from rlr_spark.streaming.state import applied_watermark

    applied_dir = os.path.join(work_dir, "_ckpt", "_applied")
    compact_dir = os.path.join(work_dir, "_compact")
    os.makedirs(compact_dir, exist_ok=True)
    applied = (
        {
            int(f.split("_", 1)[1])
            for f in os.listdir(applied_dir)
            if f.startswith("batch_")
        }
        if os.path.isdir(applied_dir)
        else set()
    )
    # markers share fate with the checkpoint; the state-dir watermark
    # proves application for ids whose markers a checkpoint wipe took
    # (it only ever advances AFTER a marker write, so a torn final
    # batch — which must stay unfolded for its replay to overwrite —
    # is never at/below it)
    wm = applied_watermark(work_dir)

    def _is_applied(b: int) -> bool:
        return b in applied or b <= wm

    def _partition_dirs(path: str, batch_id: int) -> list[str]:
        out = []
        for root, dirs, _files in os.walk(path):
            for d in dirs:
                if d == f"_batch_id={batch_id}":
                    out.append(os.path.join(root, d))
        return out

    def _present_ids(path: str) -> set[int]:
        ids = set()
        for _root, dirs, _files in os.walk(path):
            for d in dirs:
                if d.startswith("_batch_id="):
                    ids.add(int(d.split("=", 1)[1]))
        return ids

    def _delete_partitions(path: str, ids: list[int]) -> None:
        for b in ids:
            for d in _partition_dirs(path, b):
                shutil.rmtree(d, ignore_errors=True)

    # --- recovery of a previous crashed fold (shared with the stream's
    # construction-time guard) -------------------------------------------
    recover_compaction(work_dir, tables)

    results: dict[str, dict] = {}
    for t in tables:
        path = os.path.join(work_dir, t)
        if not os.path.isdir(path):
            continue
        marker = os.path.join(compact_dir, f"{t}.json")

        present = _present_ids(path)
        sources = sorted(b for b in present if b < 0 or _is_applied(b))
        if len(sources) < 2:
            results[t] = {"sources": len(sources), "cid": None}
            continue
        cid = min([0, *[b for b in present if b < 0]]) - 1

        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"phase": "pending", "cid": cid, "sources": sources}, f)
        os.replace(tmp, marker)

        df = spark.read.parquet(path).where(F.col("_batch_id").isin(sources))
        bucket_cols = [c for c in ("_kb", "_ub") if c in df.columns]
        out = df.drop("_batch_id").withColumn(
            "_batch_id", F.lit(int(cid)).cast("int")
        )
        if bucket_cols:
            # one shuffle keyed on the bucket column -> exactly one file
            # per consolidated bucket directory
            out = out.repartition(*[F.col(c) for c in bucket_cols])
        else:
            out = out.coalesce(1)
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*bucket_cols, "_batch_id")
            .parquet(path)
        )

        with open(tmp, "w") as f:
            json.dump({"phase": "done", "cid": cid, "sources": sources}, f)
        os.replace(tmp, marker)
        _delete_partitions(path, sources)
        os.remove(marker)
        results[t] = {"sources": len(sources), "cid": cid}
    return results
