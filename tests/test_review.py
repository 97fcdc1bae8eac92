import warnings

import pytest

from rlr_spark import REVIEW_COLUMNS
from rlr_spark.operators.review import (
    completion,
    coverage_ratio,
    dense_pair_ids,
    existence_flags,
    goto_pair,
    init_review_columns,
    label_counts,
    label_percentages,
    next_pair,
    next_unlabeled,
    prev_pair,
    upsert_labels,
)


@pytest.fixture()
def pairs(spark):
    df = spark.createDataFrame(
        [(100, 500), (101, 501), (102, 502), (999, 503)], "ein long, ui_num long"
    )
    return init_review_columns(df)


@pytest.fixture()
def firm(spark):
    L = spark.createDataFrame([(100,), (101,), (102,)], "ein long")
    R = spark.createDataFrame([(500,), (501,), (502,), (503,)], "ui_num long")
    return L, R


def test_init_review_columns(pairs):
    for c in REVIEW_COLUMNS:
        assert c in pairs.columns
    row = pairs.collect()[0]
    assert row.rlr_label == "" and row.rlr_label_ind == 0 and row.rlr_modified is None


def test_existence_flags_and_coverage(pairs, firm):
    L, R = firm
    flagged = existence_flags(pairs, L, R, "ein", "ui_num")
    rows = {(r.ein, r.ui_num): (r.rlr_l_id_exists, r.rlr_r_id_exists) for r in flagged.collect()}
    assert rows[(100, 500)] == (1, 1)
    assert rows[(999, 503)] == (0, 1)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ratio = coverage_ratio(flagged)
    assert abs(ratio - 0.75) < 1e-9
    ours = [x for x in w if "candidate pairs" in str(x.message)]
    assert len(ours) == 1  # 0.75 < 0.8 threshold (rlr.py:20)


def test_label_counts_unlabeled_bucket(spark, pairs):
    upd = spark.createDataFrame(
        [(100, 500, "Match"), (101, 501, "Not a Match")],
        "ein long, ui_num long, rlr_label string",
    )
    merged = upsert_labels(
        pairs, upd, ["ein", "ui_num"], ["Match", "Not a Match"], stamp_ts="2024-01-01 00:00:00"
    )
    counts = {r.label: r["count"] for r in label_counts(merged).collect()}
    assert counts == {"Match": 1, "Not a Match": 1, "Unlabeled": 2}
    assert sum(counts.values()) == merged.count()  # consistency (rlr.py:363-366)
    pcts = {r.label: r.pct for r in label_percentages(merged).collect()}
    assert pcts["Unlabeled"] == 50.0
    assert completion(merged) == (2, 4)


def test_upsert_validates_choices(spark, pairs):
    bad = spark.createDataFrame(
        [(100, 500, "Bogus")], "ein long, ui_num long, rlr_label string"
    )
    with pytest.raises(ValueError):
        upsert_labels(pairs, bad, ["ein", "ui_num"], ["Match", "Not a Match"])


def test_upsert_stamps_and_indicator(spark, pairs):
    upd = spark.createDataFrame(
        [(100, 500, "Match", "looks right")],
        "ein long, ui_num long, rlr_label string, rlr_note string",
    )
    merged = upsert_labels(
        pairs, upd, ["ein", "ui_num"], ["Match"], stamp_ts="2024-01-01 00:00:00"
    )
    rows = {(r.ein, r.ui_num): r for r in merged.collect()}
    hit = rows[(100, 500)]
    assert hit.rlr_label == "Match" and hit.rlr_label_ind == 1
    assert hit.rlr_note == "looks right"
    assert hit.rlr_modified is not None
    untouched = rows[(101, 501)]
    assert untouched.rlr_label == "" and untouched.rlr_modified is None


def test_navigation(spark, pairs):
    ordered = dense_pair_ids(pairs, ["ein", "ui_num"])
    ids = sorted(r.pair_id for r in ordered.collect())
    assert ids == [0, 1, 2, 3]
    assert next_pair(ordered, "pair_id", 1).collect()[0].pair_id == 2
    assert prev_pair(ordered, "pair_id", 1).collect()[0].pair_id == 0
    assert goto_pair(ordered, "pair_id", 3).count() == 1

    upd = spark.createDataFrame(
        [(100, 500, "Match")], "ein long, ui_num long, rlr_label string"
    )
    merged = dense_pair_ids(
        upsert_labels(pairs, upd, ["ein", "ui_num"], ["Match"]), ["ein", "ui_num"]
    )
    nxt = next_unlabeled(merged, "pair_id", -1).collect()[0]
    assert nxt.pair_id == 1  # pair 0 labeled, first unlabeled is 1
