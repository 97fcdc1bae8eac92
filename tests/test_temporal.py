"""Sessionization, as-of join, sorted-neighborhood blocking."""

from __future__ import annotations

from datetime import datetime


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )


def test_sessionize_gap_splits(spark):
    from rlr_spark.operators.temporal import sessionize

    t = lambda m, s=0: datetime(2024, 1, 1, 0, m, s)  # noqa: E731
    rows = [
        (1, t(0), 7, 0.0),
        (2, t(10), 7, 0.0),   # 10 min gap: same session
        (3, t(50), 7, 0.0),   # 40 min gap: new session
        (4, t(55), 7, 0.0),
        (5, t(0), 8, 0.0),    # other user: own numbering
    ]
    out = {
        (r.user_id, r.session_idx): r
        for r in sessionize(_ev(spark, rows), gap_minutes=30).collect()
    }
    assert out[(7, 1)].n_events == 2 and out[(7, 2)].n_events == 2
    assert out[(7, 2)].duration_sec == 300
    assert out[(8, 1)].n_events == 1 and out[(8, 1)].duration_sec == 0
    assert len(out) == 3


def test_sessionize_exact_gap_is_same_session(spark):
    """A gap of exactly gap_minutes does NOT split (strict > semantics)."""
    from rlr_spark.operators.temporal import sessionize

    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 1, 0.0),
        (2, datetime(2024, 1, 1, 0, 30), 1, 0.0),
    ]
    out = sessionize(_ev(spark, rows), gap_minutes=30).collect()
    assert len(out) == 1 and out[0].n_events == 2


def test_asof_join_picks_latest_prior_right_row(spark):
    from rlr_spark.operators.temporal import asof_join

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    left = _ev(spark, [(10, t(5), 1, 0.0), (11, t(20), 1, 0.0), (12, t(1), 2, 0.0)])
    right = _ev(spark, [(1, t(2), 1, 1.5), (2, t(10), 1, 2.5), (3, t(30), 1, 9.9)])
    out = {r.event_id: r for r in asof_join(left, right).collect()}
    assert out[10].r_value == 1.5          # t=5 sees the t=2 error
    assert out[11].r_value == 2.5          # t=20 sees t=10, not t=30
    assert out[12].r_value is None         # user 2 has no errors
    assert out[12].r_ts is None


def test_asof_join_simultaneous_right_row_is_visible(spark):
    """<= convention: a right row at the exact left timestamp matches;
    among same-ts right rows the largest event_id wins."""
    from rlr_spark.operators.temporal import asof_join

    ts = datetime(2024, 1, 1, 0, 5)
    left = _ev(spark, [(10, ts, 1, 0.0)])
    right = _ev(spark, [(1, ts, 1, 1.0), (2, ts, 1, 2.0)])
    out = asof_join(left, right).collect()
    assert out[0].r_value == 2.0


def test_sorted_neighborhood_pairs_window(spark):
    from rlr_spark.operators.blocking import sorted_neighborhood_pairs

    rows = [
        (1, "en", 10),
        (2, "en", 11),
        (3, "en", 12),
        (4, "fr", 10),   # other prefix: never pairs with en rows
        (5, "fr", 99),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    got = {
        (r.l_id, r.r_id): r.nbr_dist
        for r in sorted_neighborhood_pairs(
            df, "doc_id", ("n_chars",), "lang", window=2
        ).collect()
    }
    assert got == {(1, 2): 1, (2, 3): 1, (1, 3): 2, (4, 5): 1}


def test_sorted_neighborhood_ties_break_by_id(spark):
    from rlr_spark.operators.blocking import sorted_neighborhood_pairs

    rows = [(3, "en", 10), (1, "en", 10), (2, "en", 10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    got = {
        (r.l_id, r.r_id)
        for r in sorted_neighborhood_pairs(
            df, "doc_id", ("n_chars",), "lang", window=1
        ).collect()
    }
    assert got == {(1, 2), (2, 3)}


# --- track_history (SCD2 validity intervals) ------------------------------


def test_track_history_basic(spark):
    from datetime import datetime

    from rlr_spark.operators.temporal import track_history

    T = datetime
    rows = [
        ("a", "e1", T(2026, 1, 1)),
        ("a", "e1", T(2026, 1, 2)),   # same run
        ("a", "e2", T(2026, 1, 3)),   # change
        ("a", "e1", T(2026, 1, 5)),   # back again -> NEW run, not merged
        ("b", "e9", T(2026, 1, 1)),
    ]
    df = spark.createDataFrame(rows, "url string, entity_id string, warc_ts timestamp")
    got = sorted(
        (r["url"], r["entity_id"], r["valid_from"], r["valid_to"])
        for r in track_history(df).collect()
    )
    assert got == [
        ("a", "e1", T(2026, 1, 1), T(2026, 1, 3)),
        ("a", "e1", T(2026, 1, 5), None),
        ("a", "e2", T(2026, 1, 3), T(2026, 1, 5)),
        ("b", "e9", T(2026, 1, 1), None),
    ]


def test_track_history_null_state_is_a_run(spark):
    from datetime import datetime

    from rlr_spark.operators.temporal import track_history

    T = datetime
    rows = [("a", None, T(2026, 1, 1)), ("a", None, T(2026, 1, 2)),
            ("a", "e1", T(2026, 1, 3))]
    df = spark.createDataFrame(rows, "url string, entity_id string, warc_ts timestamp")
    got = track_history(df).collect()
    # the two NULL observations collapse into ONE run, then e1 opens
    assert len(got) == 2


def test_track_history_single_shuffle(spark):
    from datetime import datetime

    from rlr_spark.operators.temporal import track_history

    df = spark.createDataFrame(
        [("a", "e", datetime(2026, 1, 1))],
        "url string, entity_id string, warc_ts timestamp",
    )
    plan = track_history(df)._jdf.queryExecution().executedPlan().toString()
    # both windows + the filter ride one hash partitioning on the id
    assert plan.count("Exchange") == 1, plan
