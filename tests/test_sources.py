import json

import pytest

from rlr_spark.datagen import VAR_SCHEMA_FIRM, generate_firm_fixtures
from rlr_spark.sources.packet import ReviewPacket, ReviewSession
from rlr_spark.sources.readers import read_csv, from_pandas
from rlr_spark.sources.writers import merge_upsert, write_csv


@pytest.fixture(scope="module")
def packet_env(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("packet")
    data_l, data_r, pairs = generate_firm_fixtures()
    lp, rp, cp = str(d / "l.csv"), str(d / "r.csv"), str(d / "comps.csv")
    data_l.to_csv(lp, index=False)
    data_r.to_csv(rp, index=False)
    pairs.to_csv(cp, index=False)
    pkt = {
        "file_L": lp,
        "file_L_ids": ["ein"],
        "file_R": rp,
        "file_R_ids": ["ui_num"],
        "file_comps": cp,
        "var_group_schema": VAR_SCHEMA_FIRM,
        "label_choices": ["Match", "Not a Match", "Maybe a Match"],
        "curr_comp_pair_index": 2,
    }
    pkt_path = str(d / "packet.json")
    with open(pkt_path, "w") as f:
        json.dump(pkt, f)
    return pkt_path, d


def test_packet_roundtrip(packet_env):
    pkt_path, d = packet_env
    p = ReviewPacket.load(pkt_path)
    assert p.curr_comp_pair_index == 2
    out = str(d / "packet2.json")
    p.save(out)
    assert ReviewPacket.load(out).file_L == p.file_L


def test_packet_missing_key_asserts(packet_env, tmp_path):
    pkt_path, _ = packet_env
    with open(pkt_path) as f:
        d = json.load(f)
    del d["label_choices"]  # required by rlr.py:213-216 despite docs
    bad = str(tmp_path / "bad.json")
    with open(bad, "w") as f:
        json.dump(d, f)
    with pytest.raises(AssertionError):
        ReviewPacket.load(bad)


def test_review_session_loads_and_flags(spark, packet_env):
    pkt_path, _ = packet_env
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # duplicate pair + coverage warnings
        sess = ReviewSession(spark, ReviewPacket.load(pkt_path))
    assert sess.pairs.count() == 9
    assert 0 < sess.coverage < 1  # the 999 pair is missing from L
    assert "rlr_label" in sess.pairs.columns


def test_review_session_warns_on_duplicate_pair_keys(spark, packet_env, tmp_path):
    """The pair-key duplicate warning (rlr.py:151-155, warn-only) with
    NULL as a key value: two rows with the same NULL-bearing key are
    duplicates, distinct NULL-bearing keys are not."""
    import warnings

    pkt_path, _ = packet_env
    cases = {
        "dup": ([(100, 500), (100, 500), (101, 501)], True),
        "null_dup": ([(None, 500), (None, 500), (101, 501)], True),
        "null_distinct": ([(None, 500), (None, 501), (100, 500)], False),
    }
    for name, (rows, want) in cases.items():
        packet = ReviewPacket.load(pkt_path)
        packet.file_comps = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(rows, "ein long, ui_num long").write.parquet(packet.file_comps)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            ReviewSession(spark, packet)
        got = any("do not uniquely identify pair rows" in str(x.message) for x in w)
        assert got == want, name


@pytest.mark.parametrize("writer", ["write_csv", "pandas"])
def test_review_session_reads_multiline_csv_values(spark, packet_env, tmp_path, writer):
    """A packet's CSV pair file keeps a quoted value's newlines inside
    its row, whether Spark's ``write_csv`` or pandas' ``to_csv`` wrote
    it: the session sees every row once, with exact values."""
    import warnings

    pkt_path, _ = packet_env
    packet = ReviewPacket.load(pkt_path)
    rows = [(100, 500, "x\ny"), (101, 501, "plain"), (102, 502, "two\nline\nnote")]
    packet.file_comps = str(tmp_path / "comps.csv")
    if writer == "pandas":
        import pandas as pd

        pd.DataFrame(rows, columns=["ein", "ui_num", "rlr_note"]).to_csv(
            packet.file_comps, index=False
        )
    else:
        write_csv(
            spark.createDataFrame(rows, "ein long, ui_num long, rlr_note string").coalesce(1),
            packet.file_comps,
        )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # coverage warning: 3 of the pairs
        session = ReviewSession(spark, packet)
    got = sorted(tuple(r) for r in session.pairs.select("ein", "ui_num", "rlr_note").collect())
    assert got == rows


def test_review_session_rejects_overlapping_ids(spark, packet_env, tmp_path):
    pkt_path, _ = packet_env
    p = ReviewPacket.load(pkt_path)
    p.file_R_ids = ["ein"]
    with pytest.raises(AssertionError, match="Overlap"):
        ReviewSession(spark, p)


def test_csv_roundtrip(spark, tmp_path):
    data_l, _, _ = generate_firm_fixtures()
    df = from_pandas(spark, data_l)
    out = str(tmp_path / "out_csv")
    write_csv(df, out)
    back = read_csv(spark, out, infer=True)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)


def test_merge_upsert_parquet(spark, tmp_path):
    from rlr_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(1, "", ""), (2, "", ""), (3, "x", "")],
        "id long, rlr_label string, rlr_note string",
    )
    cat.write(base, "pairs")
    upd = spark.createDataFrame([(1, "Match")], "id long, rlr_label string")
    merge_upsert(cat, "pairs", upd, ["id"], ["rlr_label"])
    rows = {r.id: r.rlr_label for r in cat.read("pairs").collect()}
    assert rows == {1: "Match", 2: "", 3: "x"}


def test_file_row_counts_nested_files_fall_back(spark, tmp_path):
    """A partitioned write nests parquet files in subdirectories; the
    metadata reader must return None (not []) so the caller's real
    aggregation fallback engages instead of recording rows=0."""
    from rlr_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, part string")
    df.write.partitionBy("part").parquet(cat.path("nested"))
    assert cat.file_row_counts("nested") is None
    cat.write(df, "flat")
    counts = cat.file_row_counts("flat")
    assert counts is not None and sum(r for _, r in counts) == 2


def test_stata_roundtrip(spark, tmp_path):
    """S2/S5: .dta side channel (reference rlr.py:68,693) — small-file only."""
    from rlr_spark.sources.readers import read_stata
    from rlr_spark.sources.writers import write_stata

    data_l, _, _ = generate_firm_fixtures()
    df = from_pandas(spark, data_l)
    path = str(tmp_path / "firm.dta")
    write_stata(df, path)
    back = read_stata(spark, path)
    assert back.count() == df.count()
    assert set(back.columns) >= set(df.columns)


def test_warc_read_full_and_wet(spark, tmp_path):
    """WARC source: gzip-member and plain files, record-type filtering
    inside the parse loop, HTTP response unwrapping, WET text decode."""
    from rlr_spark.sources.warc import (
        read_warc,
        read_warc_pages,
        read_wet_text,
        write_warc,
    )

    records = [
        {"warc_type": "warcinfo", "content_type": "application/warc-fields",
         "body": "software: test\r\n"},
        {"warc_type": "request", "target_uri": "https://a.example.org/x",
         "body": "GET /x HTTP/1.1\r\n\r\n"},
        {"warc_type": "response", "target_uri": "https://a.example.org/x",
         "http_status": 200, "http_content_type": "text/html",
         "body": "<html><body>hello warc</body></html>",
         "content_type": "application/http; msgtype=response"},
        {"warc_type": "response", "target_uri": "https://a.example.org/404",
         "http_status": 404, "http_content_type": "text/html",
         "body": "gone", "content_type": "application/http; msgtype=response"},
        {"warc_type": "conversion", "target_uri": "https://a.example.org/x",
         "content_type": "text/plain", "body": "hello warc extracted"},
    ]
    gz = str(tmp_path / "seg.warc.gz")
    plain = str(tmp_path / "seg.warc")
    write_warc(gz, records, compress=True)
    write_warc(plain, records, compress=False)

    for path in (gz, plain):
        all_recs = read_warc(spark, path).collect()
        assert len(all_recs) == 5
        by_type = {r.warc_type: r for r in all_recs}
        assert set(by_type) == {"warcinfo", "request", "response", "conversion"}
        ok = [r for r in all_recs if r.http_status == 200][0]
        assert bytes(ok.payload) == b"<html><body>hello warc</body></html>"
        assert ok.http_content_type == "text/html"

        # type filter prunes before any Arrow batch is built
        resp_only = read_warc(spark, path, warc_types=("response",)).collect()
        assert {r.warc_type for r in resp_only} == {"response"}
        assert len(resp_only) == 2

        # pipeline-input convenience: only HTTP 200 responses
        pages = read_warc_pages(spark, path).collect()
        assert len(pages) == 1 and pages[0].url == "https://a.example.org/x"

        # WET text decode
        wet = read_wet_text(spark, path).collect()
        assert len(wet) == 1 and wet[0].text == "hello warc extracted"


def test_warc_malformed_raises(spark, tmp_path):
    """Framing corruption must fail loudly, never resynchronize onto
    garbage records."""
    import pytest as _pytest

    from rlr_spark.sources.warc import _iter_warc_records, write_warc

    with _pytest.raises(ValueError, match="WARC/"):
        list(_iter_warc_records(b"NOT A WARC\r\n\r\n"))
    with _pytest.raises(ValueError, match="Content-Length"):
        list(_iter_warc_records(b"WARC/1.0\r\nWARC-Type: resource\r\n\r\n"))
    with _pytest.raises(ValueError, match="truncated"):
        list(_iter_warc_records(
            b"WARC/1.0\r\nContent-Length: 100\r\n\r\nshort"
        ))

    # a truncated gzip member surfaces as an error through the Spark job
    gz = str(tmp_path / "bad.warc.gz")
    write_warc(gz, [{"warc_type": "resource", "body": "x" * 500}], compress=True)
    data = open(gz, "rb").read()
    open(gz, "wb").write(data[: len(data) // 2])
    from rlr_spark.sources.warc import read_warc

    with _pytest.raises(Exception, match="gzip|truncated"):
        read_warc(spark, gz).collect()


def test_warc_date_variants_and_fail_loud(spark, tmp_path):
    """WARC-Date parses in every ISO-8601 form the standards allow
    (second precision, WARC 1.1 fractional seconds, numeric offsets);
    a malformed date RAISES under ANSI cast instead of silently
    flowing NULL timestamps into the pipeline."""
    import pytest as _pytest

    from rlr_spark.sources.warc import warc_web_pages, write_warc

    def resp(uri, date):
        return {"warc_type": "response", "target_uri": uri, "date": date,
                "http_status": 200, "body": "x",
                "content_type": "application/http; msgtype=response"}

    ok = str(tmp_path / "ok.warc.gz")
    write_warc(ok, [
        resp("https://a/1", "2026-01-01T00:00:00Z"),
        resp("https://a/2", "2026-01-01T00:00:00.123Z"),
        resp("https://a/3", "2026-01-01T00:00:00+00:00"),
        resp("https://a/4", "2026-01-01T05:00:00.123456-05:00"),
    ])
    rows = {r.url: r.warc_ts for r in warc_web_pages(spark, ok).collect()}
    assert all(ts is not None for ts in rows.values())
    # offset forms normalize to the same instant
    assert rows["https://a/1"] == rows["https://a/3"]
    assert rows["https://a/2"].microsecond == 123000

    bad = str(tmp_path / "bad.warc.gz")
    write_warc(bad, [resp("https://a/5", "not-a-date")])
    with _pytest.raises(Exception, match="malformed WARC-Date"):
        warc_web_pages(spark, bad).collect()


def test_warc_web_pages_dedups_refetches(spark, tmp_path):
    """Crawls carry the same URL in several response records; the batch
    pages adapter keeps exactly one — the latest fetch."""
    from rlr_spark.sources.warc import warc_web_pages, write_warc

    def resp(uri, date, body):
        return {"warc_type": "response", "target_uri": uri, "date": date,
                "http_status": 200, "body": body,
                "content_type": "application/http; msgtype=response"}

    p = str(tmp_path / "refetch.warc.gz")
    write_warc(p, [
        resp("https://a/x", "2026-01-01T00:00:00Z", "old fetch"),
        resp("https://a/x", "2026-02-01T00:00:00Z", "new fetch"),
        resp("https://a/y", "2026-01-01T00:00:00Z", "only"),
    ])
    rows = {r.url: bytes(r.html) for r in warc_web_pages(spark, p).collect()}
    assert len(rows) == 2
    assert rows["https://a/x"] == b"new fetch"
