"""Reference-parity harness (SURVEY.md §5.2): run the *actual* reference
rlr class (pandas; a ``reference`` checkout next to this repo, or
``$RLR_REFERENCE_BACKEND``) on the firm fixtures and assert the
Spark operators produce identical semantics — comparison-vector bits,
review-column init, existence flags, label counts, grouped projections.
"""

from __future__ import annotations

import os
import sys
import warnings

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rlr_spark.datagen import VAR_SCHEMA_FIRM, generate_firm_fixtures
from rlr_spark.operators.compare import comparison_vectors, grouped_projection
from rlr_spark.operators.review import (
    existence_flags,
    init_review_columns,
    label_counts,
    upsert_labels,
)

# the reference checkout sits next to this repo's checkout by default
REFERENCE_BACKEND = os.environ.get(
    "RLR_REFERENCE_BACKEND",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "reference",
        "backend",
    ),
)


@pytest.fixture(scope="module")
def reference():
    """The reference engine loaded with the firm fixtures."""
    if not os.path.isfile(os.path.join(REFERENCE_BACKEND, "rlr.py")):
        pytest.skip(
            f"reference engine not found: no rlr.py under {REFERENCE_BACKEND} "
            "(set RLR_REFERENCE_BACKEND to the reference's backend/ directory)"
        )
    sys.path.insert(0, REFERENCE_BACKEND)
    import rlr as ref_mod

    data_l, data_r, pairs = generate_firm_fixtures()
    ref = ref_mod.rlr()
    ref.autosave = False
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        ref.load_dataset(data_l.copy(), "ein", "l")
        ref.load_dataset(data_r.copy(), "ui_num", "r")
        ref.load_comp_pairs(pairs.copy())
    ref.set_var_comp_schema([dict(g) for g in VAR_SCHEMA_FIRM])
    ref.set_label_choices(["Match", "Not a Match", "Maybe a Match"])
    return ref


@pytest.fixture(scope="module")
def spark_pairs(spark):
    data_l, data_r, pairs = generate_firm_fixtures()
    L = spark.createDataFrame(data_l)
    R = spark.createDataFrame(data_r.where(data_r.notna(), None))
    P = init_review_columns(spark.createDataFrame(pairs))
    P = existence_flags(P, L, R, "ein", "ui_num")
    return L, R, P


def test_existence_flags_parity(reference, spark_pairs):
    """rlr_l_id_exists / rlr_r_id_exists must match the reference's
    per-row index probe (rlr.py:168-179) pair for pair."""
    _, _, P = spark_pairs
    ref_rows = reference.comp_df[
        ["ein", "ui_num", "rlr_l_id_exists", "rlr_r_id_exists"]
    ].values.tolist()
    got = {
        (r.ein, r.ui_num): (r.rlr_l_id_exists, r.rlr_r_id_exists)
        for r in P.collect()
    }
    for ein, ui, le, re_ in ref_rows:
        assert got[(ein, ui)] == (le, re_), (ein, ui)


def test_review_column_init_parity(reference, spark_pairs):
    _, _, P = spark_pairs
    ref_df = reference.comp_df
    assert set(ref_df.columns) >= set(P.columns) - {"ein", "ui_num"} | {"ein", "ui_num"}
    row = P.where((F.col("ein") == 100)).collect()[0]
    ref_row = ref_df[ref_df["ein"] == 100].iloc[0]
    assert row.rlr_label == ref_row["rlr_label"] == ""
    assert row.rlr_label_ind == ref_row["rlr_label_ind"] == 0
    assert row.rlr_note == ref_row["rlr_note"] == ""
    # init contract: Spark inits rlr_modified to NULL timestamp; the
    # reference inits to pd.to_datetime("") == NaT (rlr.py:162-165)
    assert row.rlr_modified is None
    assert pd.isna(ref_row["rlr_modified"])


def _ref_exact_bits(reference, comp_ind: int) -> list[float]:
    """The reference's only comparator, reimplemented from
    pages/02_Linkage_Review.py:137-143 over get_comp_pair('grouped')."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        grouped = reference.get_comp_pair("grouped", comp_ind)
    bits = []
    for var_group in grouped:
        lower_lvals = "".join([str(item).strip().lower() for item in var_group["lvals"]])
        lower_rvals = "".join([str(item).strip().lower() for item in var_group["rvals"]])
        bits.append(1.0 if lower_lvals == lower_rvals else 0.0)
    return bits


def test_comparison_vector_parity(reference, spark_pairs):
    """Our cmp_*_exact bits == the reference comparator's highlight bits,
    for every pair whose both ids exist (the reference renders 'no data
    found' otherwise; our general path renders 'nan' — same verdicts on
    real fixtures, different sentinel, so restrict to found pairs)."""
    L, R, P = spark_pairs
    pairs = P.withColumnRenamed("ein", "l_id").withColumnRenamed("ui_num", "r_id")
    out = comparison_vectors(
        pairs, L, R, "ein", "ui_num", VAR_SCHEMA_FIRM, metrics=("exact",)
    )
    got = {(r.l_id, r.r_id): list(r.comparison_vector) for r in out.collect()}

    ref_df = reference.comp_df
    n_checked = 0
    for comp_ind in range(ref_df.shape[0]):
        if ref_df.loc[comp_ind, "rlr_l_id_exists"] and ref_df.loc[comp_ind, "rlr_r_id_exists"]:
            key = (ref_df.loc[comp_ind, "ein"], ref_df.loc[comp_ind, "ui_num"])
            assert got[key] == _ref_exact_bits(reference, comp_ind), key
            n_checked += 1
    assert n_checked >= 6


def test_grouped_projection_parity(reference, spark_pairs):
    L, R, P = spark_pairs
    pairs = P.withColumnRenamed("ein", "l_id").withColumnRenamed("ui_num", "r_id")
    out = grouped_projection(pairs, L, R, "ein", "ui_num", VAR_SCHEMA_FIRM)
    got = {(r.l_id, r.r_id): r for r in out.collect()}

    ref_df = reference.comp_df
    for comp_ind in range(ref_df.shape[0]):
        key = (ref_df.loc[comp_ind, "ein"], ref_df.loc[comp_ind, "ui_num"])
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            grouped = reference.get_comp_pair("grouped", comp_ind)
        for g in grouped:
            name = g["name"].lower().replace(" ", "_")
            want_l = [str(v) for v in g["lvals"]]
            want_r = [str(v) for v in g["rvals"]]
            assert list(got[key][f"grp_{name}_lvals"]) == want_l, (key, name)
            assert list(got[key][f"grp_{name}_rvals"]) == want_r, (key, name)


def test_label_counts_parity(reference, spark_pairs):
    """Apply the same labels through both engines; counts must agree
    (get_label_counts rlr.py:341-368 vs one Spark aggregation)."""
    _, _, P = spark_pairs
    choices = ["Match", "Not a Match", "Maybe a Match"]
    assignments = [(0, "Match"), (1, "Match"), (2, "Not a Match"), (3, "Maybe a Match")]
    for comp_ind, label in assignments:
        reference.save_label_or_note(label, "label", comp_ind)
    ref_counts = {k: int(v) for k, v in reference.get_label_counts().items() if v}

    ref_df = reference.comp_df
    spark = P.sparkSession
    upd = spark.createDataFrame(
        [
            (int(ref_df.loc[i, "ein"]), int(ref_df.loc[i, "ui_num"]), lbl)
            for i, lbl in assignments
        ],
        "ein long, ui_num long, rlr_label string",
    )
    # NB: pair (106,506) is duplicated in the fixture; the reference labels
    # one positional row, a keyed merge labels both. Restrict assignments
    # to unique keys (they are, for indices 0-3) so semantics align.
    merged = upsert_labels(P, upd, ["ein", "ui_num"], choices)
    got = {r.label: r["count"] for r in label_counts(merged, choices).collect()}
    assert got == ref_counts
