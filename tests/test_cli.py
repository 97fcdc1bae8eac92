"""Interactive CLI reviewer: drive the REPL with scripted stdin and
assert labels, notes, and the cursor land on disk (reference
CL_review_comparisons / CL_process_choice, backend/rlr.py:517-682)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from rlr_spark.cli import CLReviewer
from rlr_spark.datagen import VAR_SCHEMA_FIRM, generate_firm_fixtures
from rlr_spark.sources.packet import ReviewPacket, ReviewSession


def _firm_session(spark, tmp_path, keep_missing_id: bool = False):
    data_l, data_r, pairs = generate_firm_fixtures()
    pairs = pairs.drop_duplicates().reset_index(drop=True)
    if not keep_missing_id:
        # the clean review slice: no pair whose L id is absent
        pairs = pairs.query("ein != 999").reset_index(drop=True)
    l_path = str(tmp_path / "dataL.parquet")
    r_path = str(tmp_path / "dataR.parquet")
    p_path = str(tmp_path / "pairs.parquet")
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
    return ReviewSession(spark, packet), packet_path, str(tmp_path)


@pytest.fixture()
def packet_session(spark, tmp_path):
    return _firm_session(spark, tmp_path)


def _scripted(inputs: list[str]):
    it = iter(inputs)

    def fake_input(prompt: str) -> str:
        return next(it)

    return fake_input


def test_review_loop_labels_and_cursor_persist(spark, packet_session, tmp_path):
    session, packet_path, root = packet_session
    out_path = root + "/reviewed.parquet"
    printed: list[str] = []
    # label pair 1 Match -> auto-stays -> n -> label pair 2 Not a Match ->
    # g(oto) 5 -> add note -> s(ummary) -> e(xit)
    reviewer = CLReviewer(
        session,
        comp_pairs_path=out_path,
        packet_path=packet_path,
        input_fn=_scripted(
            ["1", "n", "2", "g", "5", "a", "check the address", "s", "e"]
        ),
        print_fn=printed.append,
    )
    reviewer.review()

    saved = spark.read.parquet(out_path)
    got = {
        (r.ein, r.ui_num): (r.rlr_label, r.rlr_note, r.rlr_label_ind)
        for r in saved.collect()
    }
    assert got[(100, 500)] == ("Match", "", 1)
    assert got[(101, 501)] == ("Not a Match", "", 1)
    assert got[(104, 504)] == ("", "check the address", 0)
    # rlr_modified stamped on touched rows only
    stamped = {
        (r.ein, r.ui_num)
        for r in saved.where(F.col("rlr_modified").isNotNull()).collect()
    }
    assert stamped == {(100, 500), (101, 501), (104, 504)}

    # cursor persisted to the packet (rlr.py:224-228, 746-781)
    with open(packet_path) as f:
        assert json.load(f)["curr_comp_pair_index"] == 4

    # the rendered stream showed the pair header and the summary box
    blob = "\n".join(printed)
    assert "Record Pair 1/7" in blob
    assert "Label Summary" in blob
    assert "<1> Match" in blob  # current-label highlighting after save


def test_review_loop_validates_choices_and_bounds(spark, packet_session):
    session, packet_path, _ = packet_session
    printed: list[str] = []
    reviewer = CLReviewer(
        session,
        comp_pairs_path=session.packet.file_comps + ".x.parquet",
        input_fn=_scripted(["z", "p", "e"]),  # invalid, prev-at-start, exit
        print_fn=printed.append,
        autosave=False,
    )
    reviewer.review()
    blob = "\n".join(printed)
    assert "*** Invalid Choice ***" in blob
    assert "can't go to previous" in blob
    assert session.cursor == 0


def _composite_session(spark, tmp_path):
    """The RLR_Home.py:96-119 packet shape: composite ids ['year','ein']
    vs ['ref_year','ui_num']. The pair table's year columns are INT, the
    records' BIGINT."""
    data_l, data_r, pairs = generate_firm_fixtures()
    pairs = pairs.drop_duplicates().reset_index(drop=True)
    pairs["year"] = 2020
    pairs["ref_year"] = 2020
    # a pair whose ein exists but whose year doesn't: the reference's
    # first-column-only check (year) would flag it found; the full-tuple
    # check must not
    pairs.loc[len(pairs)] = {"ein": 100, "ui_num": 500, "year": 1999, "ref_year": 2020}
    pairs = pairs.astype({"year": "int32", "ref_year": "int32"})

    l_path, r_path, p_path = (
        str(tmp_path / n) for n in ("L.parquet", "R.parquet", "P.parquet")
    )
    spark.createDataFrame(data_l).write.parquet(l_path)
    spark.createDataFrame(data_r).write.parquet(r_path)
    spark.createDataFrame(pairs).write.parquet(p_path)
    packet = ReviewPacket(
        file_L=l_path,
        file_L_ids=["year", "ein"],
        file_R=r_path,
        file_R_ids=["ref_year", "ui_num"],
        file_comps=p_path,
        var_group_schema=VAR_SCHEMA_FIRM,
        label_choices=["Match", "Not a Match"],
    )
    return ReviewSession(spark, packet)


def test_composite_key_session(spark, tmp_path):
    """Composite-id packets: existence flags computed on the FULL tuple
    (fixing the reference's single-column TODO, rlr.py:175-178)."""
    session = _composite_session(spark, tmp_path)
    flags = {
        (r.year, r.ein, r.ui_num): (r.rlr_l_id_exists, r.rlr_r_id_exists)
        for r in session.pairs.collect()
    }
    assert flags[(2020, 100, 500)] == (1, 1)
    assert flags[(1999, 100, 500)] == (0, 1)  # year mismatch -> not found in L
    assert flags[(2020, 999, 507)] == (0, 1)  # ein absent from L

    # the CLI renders composite-key pairs (grouped projection joins on
    # the full tuple)
    printed: list[str] = []
    reviewer = CLReviewer(
        session,
        comp_pairs_path=str(tmp_path / "out.parquet"),
        input_fn=_scripted(["1", "e"]),
        print_fn=printed.append,
    )
    reviewer.review()
    saved = spark.read.parquet(str(tmp_path / "out.parquet"))
    labeled = saved.where(F.col("rlr_label") == "Match").collect()
    assert len(labeled) == 1
    blob = "\n".join(printed)
    assert "Record Pair 1/" in blob


def test_reviewer_refuses_oversized_pair_table(spark, packet_session):
    """The cursor collects every pair key to the driver — review-sized by
    contract. A table above max_pairs must be refused with a filtering
    hint, not collected (driver-OOM guard at real blocking-output sizes)."""
    session, packet_path, tmp = packet_session
    with pytest.raises(ValueError, match="review limit"):
        CLReviewer(session, packet_path=packet_path, max_pairs=2)
    # explicit raise of the limit re-enables the same table
    r = CLReviewer(session, packet_path=packet_path, max_pairs=1_000)
    assert r.n > 2


def test_reviewer_refuses_before_collecting(spark, packet_session, monkeypatch):
    """The refusal is a bounded count: no key reaches the driver. The
    sorted key collect gathers each partition's top ``max_pairs`` keys
    there (``RDD.takeOrdered``), so on a table spread over partitions it
    must not run before the guard."""
    session, packet_path, _ = packet_session
    session.pairs = session.pairs.repartition(4)

    def no_collect(self):
        raise AssertionError("pair keys collected before the review-limit guard")

    # the session's concrete DataFrame class (pyspark.sql.DataFrame is
    # only its interface)
    monkeypatch.setattr(type(session.pairs), "collect", no_collect)
    with pytest.raises(ValueError, match="review limit"):
        CLReviewer(session, packet_path=packet_path, max_pairs=2)


def _by_key(rows, key_cols):
    return {tuple(r[c] for c in key_cols): r for r in rows}


_FIELDS = ["rlr_label", "rlr_note"] + [
    f"grp_{g['name'].lower()}_{side}vals" for g in VAR_SCHEMA_FIRM for side in "lr"
]


def _projection(r):
    """grouped_projection of the reviewer's pair table, keyed by pair key."""
    from rlr_spark.operators.compare import grouped_projection

    ids_l, ids_r = r.packet.file_L_ids, r.packet.file_R_ids
    rows = grouped_projection(
        r.pairs, r.session.data_l, r.session.data_r, ids_l, ids_r,
        VAR_SCHEMA_FIRM, l_pair_col=ids_l, r_pair_col=ids_r,
    ).collect()
    return {k: {f: row[f] for f in _FIELDS} for k, row in _by_key(rows, r.key_cols).items()}


def _rendered(r, idx):
    row = r._grouped_row(idx)
    return {f: row[f] for f in _FIELDS}


def test_render_equals_grouped_projection(spark, tmp_path):
    """The page render returns exactly grouped_projection's grp_* values,
    label and note for every pair: among them a pair whose L id is
    absent ("no data found") and a pair with a NULL field ("nan")."""
    session, _, _ = _firm_session(spark, tmp_path, keep_missing_id=True)
    r = CLReviewer(session, autosave=False, print_fn=lambda _t: None)
    r._save(0, label="Match")
    r._save(0, note="seen")
    want = _projection(r)
    assert (999, 507) in r.keys and (105, 505) in r.keys
    for idx, key in enumerate(r.keys):
        assert _rendered(r, idx) == want[key], key
    rows = {k: r._grouped_row(r.keys.index(k)) for k in [(100, 500), (999, 507), (105, 505)]}
    assert (rows[(100, 500)].rlr_label, rows[(100, 500)].rlr_note) == ("Match", "seen")
    assert rows[(999, 507)].grp_name_lvals == ["no data found"]
    assert rows[(105, 505)].grp_address_rvals == ["nan", "il"]


def test_composite_render_equals_grouped_projection(spark, tmp_path):
    """Composite keys whose pair-table types (INT year) differ from the
    records' (BIGINT): the page matches rows to keys on the pair table's
    types, so every render equals grouped_projection, the missing-year
    pair ("no data found" on the left) included."""
    r = CLReviewer(_composite_session(spark, tmp_path), autosave=False, print_fn=lambda _t: None)
    r._save(1, label="Not a Match")
    want = _projection(r)
    for idx, key in enumerate(r.keys):
        assert _rendered(r, idx) == want[key], key
    assert _rendered(r, r.keys.index((1999, 100, 2020, 500)))["grp_name_lvals"] == ["no data found"]


def _cross_session(spark, tmp_path):
    """Every L x R firm pair: 144 pairs, three render pages."""
    from rlr_spark.cli import RENDER_PAGE

    data_l, data_r, _ = generate_firm_fixtures()
    pairs = data_l[["ein"]].merge(data_r[["ui_num"]], how="cross")
    assert 2 * RENDER_PAGE < len(pairs) < 3 * RENDER_PAGE
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
    return ReviewSession(spark, packet)


def test_render_crosses_page_edges(spark, tmp_path):
    """``p`` and ``n`` across a page edge and ``g`` jumps land on the
    right pair: each render equals grouped_projection's row of the key
    at the cursor, and only a render on a new page runs a job."""
    from rlr_spark.cli import RENDER_PAGE
    from rlr_spark.plans import count_jobs

    r = CLReviewer(
        _cross_session(spark, tmp_path),
        autosave=False,
        input_fn=_scripted([str(RENDER_PAGE), str(2 * RENDER_PAGE + 1), "2"]),
        print_fn=lambda _t: None,
    )
    want = _projection(r)
    sc = spark.sparkContext
    # (choice, cursor after it, jobs of the render there)
    steps = [
        (None, 0, 1),
        ("g", RENDER_PAGE - 1, 0),
        ("n", RENDER_PAGE, 1),
        ("n", RENDER_PAGE + 1, 0),
        ("p", RENDER_PAGE, 0),
        ("p", RENDER_PAGE - 1, 1),
        ("g", 2 * RENDER_PAGE, 1),
        ("p", 2 * RENDER_PAGE - 1, 1),
        ("g", 1, 1),
    ]
    for choice, cursor, jobs in steps:
        if choice:
            r.process_choice(choice)
        assert r.session.cursor == cursor, choice
        got_jobs, text = count_jobs(sc, r.render_current)
        assert got_jobs == jobs, (choice, cursor)
        assert f"Record Pair {cursor + 1}/{r.n}" in text
        assert _rendered(r, cursor) == want[r.keys[cursor]], (choice, cursor)


@pytest.mark.parametrize("mode", ["parquet", "csv", "memory"])
def test_cached_render_follows_saves(spark, tmp_path, mode):
    """After a label, a clear ("0") and a note, the cached page renders
    what a fresh reviewer renders from the saved table (the parquet or
    CSV autosave, or the checkpointed table when autosave is off), at the
    saved pair and at its neighbours. A CSV re-read turns "" into NULL,
    so the page is refetched after a CSV save."""
    import copy

    session = _cross_session(spark, tmp_path)
    out_path = str(tmp_path / "reviewed") + (".parquet" if mode == "parquet" else "")
    r = CLReviewer(
        session,
        comp_pairs_path=out_path,
        autosave=mode != "memory",
        input_fn=_scripted(["  a note  ", "66", "", "2"]),
        print_fn=lambda _t: None,
    )
    for choice in ["1", "n", "0", "a", "g", "3", "p", "a", "g", "1", "0"]:
        r.render_current()
        r.process_choice(choice)
        if choice in "npg":
            continue
        fresh_session = copy.copy(session)
        fresh_session.pairs = r.pairs
        fresh = CLReviewer(fresh_session, autosave=False, print_fn=lambda _t: None)
        cursor = r.session.cursor
        for idx in (max(cursor - 1, 0), cursor, cursor + 1):
            fresh.session.cursor = r.session.cursor = idx
            assert r.render_current() == fresh.render_current(), (choice, idx)
            assert _rendered(r, idx) == _rendered(fresh, idx), (choice, idx)
        r.session.cursor = cursor
    labels = {x.rlr_label or "" for x in r.pairs.collect()}
    assert labels == {"", "Match", "Maybe a Match"}


def test_invalid_label_leaves_cache_and_table(spark, tmp_path):
    """An invalid label raises before anything is written: the cached
    page and the saved table are both unchanged."""
    import copy

    out_path = str(tmp_path / "reviewed.parquet")
    r = CLReviewer(_cross_session(spark, tmp_path), comp_pairs_path=out_path, print_fn=lambda _t: None)
    r.render_current()
    r.process_choice("1")
    page = copy.deepcopy(r._page)
    table = sorted(spark.read.parquet(out_path).collect())
    with pytest.raises(ValueError, match="Bogus"):
        r._save(0, label="Bogus")
    assert r._page == page
    assert sorted(spark.read.parquet(out_path).collect()) == table
    assert r._grouped_row(0).rlr_label == "Match"


def test_point_save_equals_upsert_labels(spark, packet_session):
    """A label, a clear ("0") and a note saved by the reviewer give the
    table upsert_labels gives (same columns in the same order, same
    types, same rows with rlr_modified set aside); an invalid label
    raises upsert_labels' ValueError and leaves the saved table as it
    was."""
    import os

    from rlr_spark.operators.review import upsert_labels

    session, _, root = packet_session
    out_path = root + "/reviewed.parquet"
    r = CLReviewer(session, comp_pairs_path=out_path, print_fn=lambda _t: None)
    choices = list(session.packet.label_choices)
    want = session.pairs
    for idx, label, note in [(0, "Match", None), (0, "", None), (1, None, "call back"), (2, "Maybe a Match", None)]:
        r._save(idx, label=label, note=note)
        upd = {c: v for c, v in zip(r.key_cols, r.keys[idx])}
        if label is not None:
            upd["rlr_label"] = label
        if note is not None:
            upd["rlr_note"] = note
        want = upsert_labels(
            want,
            spark.createDataFrame([upd], want.select(*upd).schema),
            r.key_cols,
            choices,
        ).localCheckpoint()
        saved = spark.read.parquet(out_path)
        assert [(f.name, f.dataType) for f in saved.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]

        def rows(df):
            return sorted(
                tuple(v for k, v in x.asDict().items() if k != "rlr_modified")
                + (x.rlr_modified is not None,)
                for x in df.collect()
            )

        assert rows(saved) == rows(want), (idx, label, note)

    before = sorted(os.listdir(out_path)), sorted(spark.read.parquet(out_path).collect())
    bad = spark.createDataFrame([(100, 500, "Bogus")], "ein long, ui_num long, rlr_label string")
    with pytest.raises(ValueError) as upsert_err:
        upsert_labels(want, bad, r.key_cols, choices)
    with pytest.raises(ValueError) as save_err:
        r._save(0, label="Bogus")
    assert str(save_err.value) == str(upsert_err.value)
    assert (sorted(os.listdir(out_path)), sorted(spark.read.parquet(out_path).collect())) == before


def test_default_csv_autosave_survives_repeated_saves(spark, packet_session):
    """The default comp_pairs_path (file_comps + ".reviewed") is CSV; it
    takes the same write-then-swap path as parquet and keeps every row
    and every label over consecutive saves."""
    import os

    session, _, _ = packet_session
    r = CLReviewer(session, print_fn=lambda _t: None)
    assert r.comp_pairs_path == session.packet.file_comps + ".reviewed"
    for choice in ("1", "2", "3"):
        r.process_choice(choice)
        r.process_choice("n")
    saved = (
        spark.read.option("header", "true").schema(r.pairs.schema).csv(r.comp_pairs_path)
    )
    # CSV does not tell "" from NULL: an unlabeled row reads back NULL
    got = {(x.ein, x.ui_num): (x.rlr_label or "", x.rlr_label_ind) for x in saved.collect()}
    assert len(got) == r.n == 7
    assert [got[k] for k in r.keys[:3]] == [("Match", 1), ("Not a Match", 1), ("Maybe a Match", 1)]
    assert all(v == ("", 0) for k, v in got.items() if k not in r.keys[:3])
    assert not any(os.path.exists(r.comp_pairs_path + s) for s in (".tmp", ".old"))


def test_csv_autosave_keeps_notes_exact(spark, packet_session):
    """A CSV-autosaved note with a newline, surrounding blanks, quotes
    and a backslash reads back exact, and the newline adds no row."""
    session, _, _ = packet_session
    r = CLReviewer(session, print_fn=lambda _t: None)
    notes = ["first line\nsecond line", "  padded  ", 'say "hi" \\ bye']
    for idx, note in enumerate(notes):
        r._save(idx, note=note)
    got = {(x.ein, x.ui_num): x.rlr_note for x in r.pairs.collect()}
    assert len(got) == r.pairs.count() == r.n == 7
    assert [got[k] for k in r.keys[:3]] == notes
    assert [r._grouped_row(i).rlr_note for i in range(3)] == notes


def test_swap_leftovers_from_an_interrupted_save(spark, packet_session):
    """A process killed mid-swap leaves ``.tmp`` and ``.old`` directories
    (and possibly no final directory); the next save still lands and
    cleans them up."""
    import os
    import shutil

    session, _, root = packet_session
    out_path = root + "/reviewed.parquet"
    CLReviewer(session, comp_pairs_path=out_path, print_fn=lambda _t: None).process_choice("1")
    # killed after final -> .old, with a half-written .tmp beside it
    os.rename(out_path, out_path + ".old")
    os.makedirs(out_path + ".tmp")
    with open(out_path + ".tmp/part-00000-torn.parquet", "wb") as f:
        f.write(b"PAR1 torn")
    r = CLReviewer(
        ReviewSession(spark, session.packet), comp_pairs_path=out_path, print_fn=lambda _t: None
    )
    r.process_choice("2")
    assert not any(os.path.exists(out_path + s) for s in (".tmp", ".old"))
    # killed after .tmp -> final, before .old was deleted
    shutil.copytree(out_path, out_path + ".old")
    r.process_choice("n")
    r.process_choice("3")
    got = {(x.ein, x.ui_num): x.rlr_label for x in spark.read.parquet(out_path).collect()}
    assert len(got) == r.n
    assert [got[k] for k in r.keys[:3]] == ["Not a Match", "Maybe a Match", ""]
    assert not any(os.path.exists(out_path + s) for s in (".tmp", ".old"))


def test_reread_after_swaps_lists_fresh_files(spark, packet_session):
    """Every swap replaces the table's files; the re-read after each of
    several swaps must scan the files now in the directory, never a
    stale cached listing of an earlier one."""
    import os

    session, _, root = packet_session
    out_path = root + "/reviewed.parquet"
    r = CLReviewer(session, comp_pairs_path=out_path, print_fn=lambda _t: None)
    seen: set[str] = set()
    for i, choice in enumerate(["1", "2", "3", "0"]):
        r.process_choice(choice)
        on_disk = {f for f in os.listdir(out_path) if f.endswith(".parquet")}
        listed = {os.path.basename(f) for f in r.pairs.inputFiles()}
        assert listed == on_disk, i
        assert not listed & seen, i
        seen |= listed
        want = ["Match", "Not a Match", "Maybe a Match", ""][i]
        row = r.pairs.where(F.col("ein") == r.keys[0][0]).collect()
        assert [x.rlr_label for x in row] == [want], i
