"""Browser review UI: drive the HTTP server with real requests and
assert labels/notes/cursor land exactly as through the CLI loop."""

from __future__ import annotations

import json
import threading
import urllib.parse
import urllib.request

import pytest

from rlr_spark.datagen import VAR_SCHEMA_FIRM, generate_firm_fixtures
from rlr_spark.sources.packet import ReviewPacket
from rlr_spark.webui import make_app_server


def _firm_packet(spark, tmp_path) -> str:
    """The firm fixtures as parquet plus a packet naming them; returns
    the packet's path."""
    data_l, data_r, pairs = generate_firm_fixtures()
    pairs = pairs.drop_duplicates().query("ein != 999").reset_index(drop=True)
    l_path, r_path, p_path = (
        str(tmp_path / "dataL.parquet"),
        str(tmp_path / "dataR.parquet"),
        str(tmp_path / "pairs.parquet"),
    )
    spark.createDataFrame(data_l).write.parquet(l_path)
    spark.createDataFrame(data_r).write.parquet(r_path)
    spark.createDataFrame(pairs).write.parquet(p_path)
    packet = ReviewPacket(
        file_L=l_path,
        file_L_ids=["ein"],
        file_R=r_path,
        file_R_ids=["ui_num"],
        file_comps=p_path,
        var_group_schema=VAR_SCHEMA_FIRM,
        label_choices=["Match", "Not a Match", "Maybe a Match"],
    )
    packet_path = str(tmp_path / "packet.json")
    packet.save(packet_path)
    return packet_path


@pytest.fixture()
def served(spark, tmp_path):
    packet_path = _firm_packet(spark, tmp_path)
    server = make_app_server(
        spark,
        packet_path=packet_path,
        port=0,
        comp_pairs_path=str(tmp_path / "reviewed.parquet"),
    )
    reviewer = server.web.r
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base, reviewer, packet_path, str(tmp_path)
    server.shutdown()


def _get(base: str) -> str:
    with urllib.request.urlopen(base + "/") as resp:
        return resp.read().decode("utf-8")


def _post(base: str, **fields) -> str:
    data = urllib.parse.urlencode(fields).encode()
    req = urllib.request.Request(base + "/", data=data, method="POST")
    with urllib.request.urlopen(req) as resp:  # follows the 303 back to GET
        return resp.read().decode("utf-8")


def test_page_renders_pair_and_groups(served):
    base, reviewer, _, _ = served
    page = _get(base)
    assert f"Record Pair 1 / {reviewer.n}" in page
    for g in reviewer.packet.var_group_schema:
        assert g["name"] in page
    # radio options: No Label + the three label choices
    assert page.count('name="label"') == 4


def test_label_note_nav_roundtrip(served, spark):
    base, reviewer, packet_path, root = served
    # label pair 1 as Match (radio value 1)
    _post(base, label="1")
    # move next, label pair 2 as Not a Match
    _post(base, nav="next")
    _post(base, label="2")
    # goto pair 5, set a note
    _post(base, goto="5")
    page = _post(base, note="check the address")
    assert "check the address" in page
    assert f"Record Pair 5 / {reviewer.n}" in page

    saved = spark.read.parquet(root + "/reviewed.parquet")
    got = {
        (r.ein, r.ui_num): (r.rlr_label, r.rlr_note, r.rlr_label_ind)
        for r in saved.collect()
    }
    assert got[(100, 500)] == ("Match", "", 1)
    assert got[(101, 501)] == ("Not a Match", "", 1)
    assert got[(104, 504)] == ("", "check the address", 0)
    # cursor persisted to the packet on every save
    assert json.load(open(packet_path))["curr_comp_pair_index"] == 4


def test_mismatch_highlighting_and_summary(served):
    base, _, _, _ = served
    page = _get(base)
    # the fixture's first pair agrees on some groups and differs on others
    assert 'class="match"' in page or 'class="mismatch"' in page
    assert "summary" in page  # label summary block present


def test_note_can_be_cleared_and_goto_is_own_form(served, spark):
    base, reviewer, _, root = served
    _post(base, note="temp note")
    page = _get(base)
    assert "temp note" in page
    # empty note must CLEAR (parse_qs would drop blank values by default)
    page = _post(base, note="")
    assert "temp note" not in page
    # the goto input lives in its own form: no nav field rides along
    assert page.count("<form") >= 4


def test_serve_packet_fails_fast_and_saves_cursor(spark, tmp_path, monkeypatch):
    """serve_packet builds the reviewer before it serves, so a bad packet
    raises at once, and it writes the cursor to the packet on exit."""
    from http.server import HTTPServer

    from rlr_spark.webui import serve_packet

    packet_path = _firm_packet(spark, tmp_path)
    bad = ReviewPacket.load(packet_path)
    bad.file_L_ids = ["no_such_column"]
    bad_path = str(tmp_path / "bad.json")
    bad.save(bad_path)
    with pytest.raises(AssertionError, match="missing id columns"):
        serve_packet(bad_path, port=0, spark=spark)

    def serve_then_quit(server, *a, **kw):
        # what a browser "goto 3" then Ctrl-C would leave behind
        server.web.apply({"goto": ["3"]})
        raise KeyboardInterrupt

    monkeypatch.setattr(HTTPServer, "serve_forever", serve_then_quit)
    with pytest.raises(KeyboardInterrupt):
        serve_packet(
            packet_path, port=0, spark=spark,
            comp_pairs_path=str(tmp_path / "reviewed.parquet"),
        )
    assert json.load(open(packet_path))["curr_comp_pair_index"] == 2


def test_packet_builder_end_to_end(spark, tmp_path):
    """Build a packet FROM SCRATCH in the browser UI (the reference's
    01_data_input flow: dataset paths, id multiselect with live
    uniqueness validation, var-group editor, comps load, packet save)
    and then review pair 0 with it on the same server."""
    data_l, data_r, pairs = generate_firm_fixtures()
    pairs = pairs.drop_duplicates().query("ein != 999").reset_index(drop=True)
    l_path = str(tmp_path / "dataL.parquet")
    r_path = str(tmp_path / "dataR.parquet")
    p_path = str(tmp_path / "pairs.parquet")
    spark.createDataFrame(data_l).write.parquet(l_path)
    spark.createDataFrame(data_r).write.parquet(r_path)
    spark.createDataFrame(pairs).write.parquet(p_path)

    out_packet = str(tmp_path / "built_packet.json")
    server = make_app_server(
        spark,
        port=0,
        packet_out_path=out_packet,
        comp_pairs_path=str(tmp_path / "reviewed.parquet"),
    )
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"

    def post(route, **fields):
        data = urllib.parse.urlencode(fields, doseq=True).encode()
        req = urllib.request.Request(base + route, data=data, method="POST")
        with urllib.request.urlopen(req) as resp:
            return resp.read().decode("utf-8")

    try:
        # with no packet, / redirects to the builder
        with urllib.request.urlopen(base + "/") as resp:
            assert "Build Review Packet" in resp.read().decode()

        page = post("/build", act="load_l", path=l_path)
        assert "ein" in page and "choose which columns uniquely identify" in page
        # non-unique id column -> the reference's red message, NOT loaded
        page = post("/build", act="ids_l", ids=["addy_city"])
        assert "do not uniquely identify rows" in page
        page = post("/build", act="ids_l", ids=["ein"])
        assert "valid identifiers" in page
        page = post("/build", act="load_r", path=r_path)
        page = post("/build", act="ids_r", ids=["ui_num"])
        assert "valid identifiers" in page

        # var-group editor unlocked now: name group 0, add + delete one
        page = post("/build", act="vg_set_0", name="Name",
                    lvars=["name"], rvars=["company_name"])
        page = post("/build", act="vg_add")
        assert page.count('name="act" value="vg_set_') == 2
        page = post("/build", act="vg_del_1")
        assert page.count('name="act" value="vg_set_') == 1

        page = post("/build", act="labels", labels="Match, Not a Match")
        # comps with a wrong path first: message, no crash
        page = post("/build", act="load_comps", path=str(tmp_path / "nope.parquet"))
        assert "could not read" in page
        page = post("/build", act="load_comps", path=p_path)
        assert "Successfully loaded" in page
        page = post("/build", act="save", path=out_packet)
        assert "packet saved" in page and "Start reviewing" in page

        # the saved packet is a valid ReviewPacket with what we clicked
        d = json.load(open(out_packet))
        assert d["file_L_ids"] == ["ein"] and d["file_R_ids"] == ["ui_num"]
        assert d["var_group_schema"] == [
            {"name": "Name", "lvars": ["name"], "rvars": ["company_name"]}
        ]
        assert d["label_choices"] == ["Match", "Not a Match"]

        # ...and the SAME server now reviews pair 0 with it
        with urllib.request.urlopen(base + "/") as resp:
            review = resp.read().decode()
        assert "Record Pair 1 /" in review and "Name" in review
        review = post("/", label="1")  # label pair 1 "Match"
        reviewed = spark.read.parquet(str(tmp_path / "reviewed.parquet"))
        assert reviewed.where("rlr_label = 'Match'").count() == 1
    finally:
        server.shutdown()


def test_packet_builder_id_change_invalidates_comps(spark, tmp_path):
    """Changing id columns AFTER the comps file is loaded must
    re-validate it against the new ids — otherwise Save could emit a
    packet whose pair file lacks the id columns."""
    from rlr_spark.webui import PacketBuilderUI

    data_l, data_r, pairs = generate_firm_fixtures()
    pairs = pairs.drop_duplicates().query("ein != 999").reset_index(drop=True)
    l_path, r_path, p_path = (
        str(tmp_path / "L.parquet"), str(tmp_path / "R.parquet"),
        str(tmp_path / "P.parquet"),
    )
    spark.createDataFrame(data_l).write.parquet(l_path)
    spark.createDataFrame(data_r).write.parquet(r_path)
    spark.createDataFrame(pairs).write.parquet(p_path)

    b = PacketBuilderUI(spark, packet_out_path=str(tmp_path / "pkt.json"))
    b.apply({"act": ["load_l"], "path": [l_path]})
    b.apply({"act": ["ids_l"], "ids": ["ein"]})
    b.apply({"act": ["load_r"], "path": [r_path]})
    b.apply({"act": ["ids_r"], "ids": ["ui_num"]})
    b.apply({"act": ["load_comps"], "path": [p_path]})
    assert b.comps["loaded"]

    # 'name' is unique too, but the pairs file has no 'name' column:
    # the comps load must flip to invalid with the missing-column message
    b.apply({"act": ["ids_l"], "ids": ["name"]})
    assert b.sides["l"]["loaded"] and not b.comps["loaded"]
    assert "missing id columns" in b.comps["msg"]
    b.apply({"act": ["save"], "path": [str(tmp_path / "pkt.json")]})
    assert "load both data sets and a comparison file" in b.saved_msg

    # back to valid ids: comps must be reloadable and save succeeds
    b.apply({"act": ["ids_l"], "ids": ["ein"]})
    b.apply({"act": ["load_comps"], "path": [p_path]})
    assert b.comps["loaded"]
    b.apply({"act": ["save"], "path": [str(tmp_path / "pkt.json")]})
    assert "packet saved" in b.saved_msg
