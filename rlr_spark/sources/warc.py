"""WARC / WET source — the container format web-scale corpora arrive in.

ISO 28500 (the public WARC standard) + the Common Crawl convention: a
``.warc.gz`` file is a CONCATENATION of gzip members, one WARC record
per member, so a reader streams member-by-member without decompressing
the file as a whole; a plain ``.warc`` holds the same records
uncompressed. WET files are WARC files whose ``conversion`` records
carry extracted plain text.

Scale shape: Spark cannot split a gzip stream, and it doesn't need to —
the corpus ships as tens of thousands of ~1 GiB segment files, so
FILE-level parallelism is the natural (and the industry's actual)
decomposition: ``spark.read.format("binaryFile")`` lists the files and
prunes on path, one task parses one file's gzip members with stdlib
``zlib`` + header parsing inside ``mapInPandas`` (Arrow batches out).
At 100 TB that is ~10^5 independent tasks, each bounded by one segment
file; no shuffle anywhere — the output feeds straight into the extract
stage. Per-payload Python is the right shape here because records are
opaque byte blobs no column expression can parse.

The writer exists for test synthesis: every layout the reader claims is
driven with real bytes.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WARC_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType(), False),
        T.StructField("record_id", T.StringType(), True),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("http_content_type", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


# ---------------------------------------------------------------------------
# Pure-Python record iteration (runs inside the Arrow batches)
# ---------------------------------------------------------------------------

_GZ_CHUNK = 1 << 17  # 128 KiB — ~a few compressed records per feed


def _iter_gzip_members(blob: bytes) -> Iterator[bytes]:
    """Decompress a concatenation of gzip members one member at a time
    (the .warc.gz convention — each record its own member).

    Feeds the decompressor FIXED-SIZE slices of a memoryview instead of
    the whole remaining tail: a ~1 GiB segment holds ~10^5 members, and
    handing each member the full tail (then copying ``unused_data``)
    would memcpy on the order of the file size PER member — quadratic.
    Here each input byte is decompressed once and the only extra copy
    is the sub-chunk carry-over at member boundaries (bounded by the
    chunk size), so the per-file cost stays linear.
    """
    mv = memoryview(blob)
    n = len(blob)
    off = 0
    tail = b""  # undecompressed carry-over from the previous member
    while tail or off < n:
        d = zlib.decompressobj(wbits=31)  # 31 = gzip wrapper
        out = bytearray()
        while not d.eof:
            if tail:
                buf, tail = tail, b""
            elif off < n:
                buf = mv[off : off + _GZ_CHUNK]
                off += len(buf)
            else:
                raise ValueError("truncated gzip member in warc file")
            out += d.decompress(buf)
        out += d.flush()
        tail = d.unused_data  # start of the next member (< chunk size)
        yield bytes(out)


def _iter_warc_records(data: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (headers, content_block) per WARC record in ``data``.

    Header names are lower-cased; the block length comes from the
    mandatory ``Content-Length`` header (ISO 28500 §4), records are
    separated by two CRLFs. Malformed framing raises — an archive
    reader must fail loudly, not resynchronize onto garbage.
    """
    i = 0
    n = len(data)
    while i < n:
        while i < n and data[i : i + 2] == b"\r\n":
            i += 2
        if i >= n:
            return
        if not data.startswith(b"WARC/", i):
            raise ValueError("warc record does not start with a WARC/ version line")
        hdr_end = data.find(b"\r\n\r\n", i)
        if hdr_end < 0:
            raise ValueError("warc header block not terminated")
        headers: dict[str, str] = {}
        for line in data[i:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("ascii")] = v.strip().decode(
                "utf-8", "replace"
            )
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("warc record missing a valid Content-Length") from None
        body_start = hdr_end + 4
        if body_start + length > n:
            raise ValueError("warc record body truncated")
        yield headers, data[body_start : body_start + length]
        i = body_start + length


def _parse_http_response(block: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content-type, body) from an HTTP response block; a
    block without an HTTP status line is returned whole (status None)."""
    if not block.startswith(b"HTTP/"):
        return None, None, block
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        return None, None, block
    head_lines = block[:sep].split(b"\r\n")
    parts = head_lines[0].split()
    status = int(parts[1]) if len(parts) >= 2 and parts[1].isdigit() else None
    ctype = None
    for line in head_lines[1:]:
        k, _, v = line.partition(b":")
        if k.strip().lower() == b"content-type":
            ctype = v.strip().decode("utf-8", "replace")
    return status, ctype, block[sep + 4 :]


def _records_of_file(path: str, blob: bytes) -> Iterator[tuple]:
    data = blob
    if blob[:2] == b"\x1f\x8b":
        chunks = _iter_gzip_members(blob)
    else:
        chunks = iter([data])
    for chunk in chunks:
        for headers, block in _iter_warc_records(chunk):
            wtype = headers.get("warc-type")
            status, http_ctype, payload = (None, None, block)
            if wtype in ("response", "revisit") and block.startswith(b"HTTP/"):
                status, http_ctype, payload = _parse_http_response(block)
            yield (
                path,
                headers.get("warc-record-id"),
                wtype,
                headers.get("warc-target-uri"),
                headers.get("warc-date"),
                headers.get("content-type"),
                status,
                http_ctype,
                payload,
            )


# ---------------------------------------------------------------------------
# Spark reader
# ---------------------------------------------------------------------------

def records_pdf_gen(
    warc_types: tuple[str, ...] | None = None,
    http_status: int | None = None,
):
    """The ``mapInPandas`` generator turning (path, content) batches
    into :data:`WARC_SCHEMA` rows — SHARED by the batch reader and the
    streaming head (streaming/ingest.stream_warc_pages), so filtering
    and parse semantics cannot diverge between the two. Both filters
    apply inside the parse loop, before any Arrow batch is built."""
    import pandas as pd

    cols = [f.name for f in WARC_SCHEMA.fields]

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for p, blob in zip(pdf["path"], pdf["content"]):
                for rec in _records_of_file(p, bytes(blob)):
                    if warc_types is not None and rec[2] not in warc_types:
                        continue
                    if http_status is not None and rec[6] != http_status:
                        continue
                    rows.append(rec)
            yield pd.DataFrame(rows, columns=cols)

    return gen


def warc_timestamp(c: "Column") -> "Column":
    """WARC-Date -> timestamp, fail-loud. Spark's ISO-8601 cast accepts
    every form the WARC standards allow (second precision, WARC 1.1
    fractional seconds, 'Z' or numeric offsets) — a fixed to_timestamp
    pattern would silently NULL any variant it didn't anticipate,
    poisoning every downstream timestamp dedup/sessionization. The
    explicit raise_error guard keeps the contract even on clusters
    running with ``spark.sql.ansi.enabled=false`` (where a bare cast
    quietly NULLs malformed input)."""
    ts = F.try_to_timestamp(c)
    return F.when(c.isNull(), F.lit(None).cast("timestamp")).when(
        ts.isNull(),
        F.raise_error(F.concat(F.lit("malformed WARC-Date: "), c)).cast(
            "timestamp"
        ),
    ).otherwise(ts)


def read_warc(
    spark: SparkSession,
    path: str,
    warc_types: tuple[str, ...] | None = None,
) -> DataFrame:
    """WARC/WET files -> one row per record.

    ``binaryFile`` lists + loads the segment files (file-level
    parallelism — the only splittable unit of a gzip archive); each
    task parses its files' records with the pure-Python iterator above
    inside ``mapInPandas``. ``warc_types`` filters record types (e.g.
    ``("response",)``) INSIDE the parse loop, before any Arrow batch is
    built — request/metadata records in a full WARC never leave the
    task. Columns: warc_file, record_id, warc_type, target_uri,
    warc_date, content_type, http_status, http_content_type, payload
    (HTTP body for response records, raw block otherwise).
    """
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(records_pdf_gen(warc_types), WARC_SCHEMA)


def read_wet_text(spark: SparkSession, path: str) -> DataFrame:
    """WET convenience: ``conversion`` records decoded to text —
    (url, warc_date, text), the shape the text-quality / dedup
    operators consume directly."""
    recs = read_warc(spark, path, warc_types=("conversion",))
    return recs.select(
        F.col("target_uri").alias("url"),
        F.col("warc_date"),
        F.decode(F.col("payload"), "utf-8").alias("text"),
    )


def read_warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """Full-WARC convenience: HTTP 200 responses as
    (url, warc_date, content_type, payload) — the raw-HTML input shape
    of the pipeline's extract stage."""
    recs = read_warc(spark, path, warc_types=("response",))
    return recs.where(F.col("http_status") == 200).select(
        F.col("target_uri").alias("url"),
        F.col("warc_date"),
        F.col("http_content_type").alias("content_type"),
        F.col("payload"),
    )


def pages_projection(recs: DataFrame) -> DataFrame:
    """WARC_SCHEMA records (already response/200-filtered) -> the
    pipeline's web_pages input shape (url, warc_ts, html, lang).
    Shared by the batch and streaming heads. ``lang`` is NULL — a raw
    crawl has no language id yet (it comes from the corpus's own
    lang-id pass); carrying the column keeps WARC input shape-compatible
    with every web_pages consumer, including configs that filter on it
    (NULL lang rows simply don't pass an ``isin`` filter)."""
    return recs.select(
        F.col("target_uri").alias("url"),
        warc_timestamp(F.col("warc_date")).alias("warc_ts"),
        F.col("payload").alias("html"),
        F.lit(None).cast("string").alias("lang"),
    )


def warc_web_pages(spark: SparkSession, path: str) -> DataFrame:
    """WARC segments -> the pipeline's web_pages input shape
    (url, warc_ts, html) — so ``Pipeline.run(warc_web_pages(spark,
    "s3://crawl/segments/*.warc.gz"))`` is the whole ingestion story.
    ``html`` stays BinaryType end-to-end (the extract stage's
    byte-identity contract); WARC-Date parses via :func:`warc_timestamp`
    (any ISO-8601 form, malformed values raise).

    Real crawls carry the same URL in multiple 200-response records
    (re-fetches; a glob spanning several crawls), and the pipeline
    requires url-unique input (its uid mint asserts it), so this keeps
    ONE record per url: the LATEST fetch, ties broken by payload hash —
    deterministic, never arrival-order-dependent. One groupBy shuffle
    on url — the partitioning the uid stage wants anyway.
    """
    recs = read_warc(spark, path, warc_types=("response",)).where(
        F.col("http_status") == 200
    )
    pages = pages_projection(recs)
    picked = pages.groupBy("url").agg(
        F.max_by(
            F.struct("warc_ts", "html", "lang"),
            F.struct(F.col("warc_ts"), F.xxhash64(F.col("html")).alias("_h")),
        ).alias("_r")
    )
    return picked.select("url", "_r.warc_ts", "_r.html", "_r.lang")


# ---------------------------------------------------------------------------
# Writer (test synthesis)
# ---------------------------------------------------------------------------

def write_warc(
    path: str,
    records: list[dict],
    compress: bool = True,
) -> None:
    """Serialize ``records`` as a WARC (or .warc.gz) file.

    Each record dict: ``warc_type`` (required), ``target_uri``,
    ``record_id``, ``date``, ``content_type``, and either ``payload``
    (raw block bytes) or — for response records — ``http_status`` /
    ``http_content_type`` / ``body`` from which an HTTP block is built.
    With ``compress`` each record becomes its own gzip member, the
    Common Crawl layout.
    """
    out = bytearray()
    for i, rec in enumerate(records):
        if "payload" in rec:
            block = rec["payload"]
        elif rec.get("warc_type") == "response":
            body = rec.get("body", b"")
            if isinstance(body, str):
                body = body.encode("utf-8")
            status = rec.get("http_status", 200)
            ctype = rec.get("http_content_type", "text/html")
            block = (
                f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode("ascii") + body
        else:
            body = rec.get("body", b"")
            block = body.encode("utf-8") if isinstance(body, str) else body
        headers = [
            ("WARC-Type", rec.get("warc_type", "resource")),
            ("WARC-Record-ID", rec.get("record_id", f"<urn:test:{i}>")),
            ("WARC-Date", rec.get("date", "2026-01-01T00:00:00Z")),
            ("Content-Length", str(len(block))),
        ]
        if rec.get("target_uri"):
            headers.append(("WARC-Target-URI", rec["target_uri"]))
        if rec.get("content_type"):
            headers.append(("Content-Type", rec["content_type"]))
        raw = (
            b"WARC/1.0\r\n"
            + b"".join(f"{k}: {v}\r\n".encode("utf-8") for k, v in headers)
            + b"\r\n"
            + block
            + b"\r\n\r\n"
        )
        if compress:
            co = zlib.compressobj(9, zlib.DEFLATED, 31)
            out += co.compress(raw) + co.flush()
        else:
            out += raw
    with open(path, "wb") as f:
        f.write(bytes(out))
