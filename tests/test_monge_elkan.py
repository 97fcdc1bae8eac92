"""Monge-Elkan comparator: verified against a pure-Python reference."""

from __future__ import annotations

import pytest

from rlr_spark.functions.similarity import jaro_winkler_py, monge_elkan_scores

PAIRS = [
    # (l_id, r_id, l, r)
    (1, 2, "john q smith", "smith john quincy"),     # reordered + extended
    (3, 4, "acme corp intl", "acme corporation international"),
    (5, 6, "alpha beta", "gamma delta"),             # unrelated
    (7, 8, "single", "single"),                      # identical one-token
    (9, 10, "dup dup other", "dup zzz"),             # duplicate left tokens
    (11, 12, "", "nonempty text"),                   # empty left side
]


def _py_me(l: str, r: str, max_tokens: int = 8) -> float:
    lt = l.lower().strip().split()[:max_tokens]
    rt = r.lower().strip().split()[:max_tokens]
    if not lt:
        return 0.0
    return sum(max(jaro_winkler_py(a, b) for b in rt) for a in lt) / len(lt)


@pytest.fixture(scope="module")
def pairs_df(spark):
    return spark.createDataFrame(
        PAIRS, "l_id long, r_id long, l string, r string"
    )


def test_matches_python_reference(pairs_df):
    got = {
        (r.l_id, r.r_id): r.monge_elkan
        for r in monge_elkan_scores(
            pairs_df, "l", "r", id_cols=["l_id", "r_id"]
        ).collect()
    }
    assert len(got) == len(PAIRS)  # empty-left pair kept, not dropped
    for l_id, r_id, l, r in PAIRS:
        assert got[(l_id, r_id)] == pytest.approx(_py_me(l, r), abs=1e-12), (l, r)


def test_reordering_beats_plain_jw(pairs_df):
    # the comparator's reason to exist: token reorderings score high
    got = {
        (r.l_id, r.r_id): r.monge_elkan
        for r in monge_elkan_scores(
            pairs_df, "l", "r", id_cols=["l_id", "r_id"]
        ).collect()
    }
    assert got[(1, 2)] > 0.9          # "john q smith" vs "smith john quincy"
    assert jaro_winkler_py("john q smith", "smith john quincy") < 0.8
    assert got[(5, 6)] < got[(1, 2)] - 0.2  # unrelated stays well below
    assert got[(7, 8)] == 1.0


def test_asymmetry_and_symmetric_wrapper(spark):
    # mean over LEFT tokens: extra right tokens are free, extra left cost
    df = spark.createDataFrame(
        [(1, 1, "acme", "acme unrelatedword")], "l_id long, r_id long, l string, r string"
    )
    ab = monge_elkan_scores(df, "l", "r", id_cols=["l_id", "r_id"]).collect()[0]
    ba = monge_elkan_scores(df, "r", "l", id_cols=["l_id", "r_id"]).collect()[0]
    assert ab.monge_elkan == 1.0
    assert ba.monge_elkan < 1.0


def test_max_tokens_caps_cost(spark):
    long = " ".join(f"tok{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, 1, long, long)], "l_id long, r_id long, l string, r string"
    )
    out = monge_elkan_scores(df, "l", "r", id_cols=["l_id", "r_id"], max_tokens=4)
    assert out.collect()[0].monge_elkan == 1.0  # capped lists still identical
