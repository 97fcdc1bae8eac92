"""1:1 assignment, linkage waterfall and group linkage
(operators/matching.py)."""

from __future__ import annotations

import pytest

from rlr_spark.operators.matching import (
    linkage_waterfall,
    mutual_best_match,
    one_to_one_match,
)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "l_id long, r_id long, score double")


def test_mutual_best_is_injective_and_correct(spark):
    # l=1 best is r=10 (0.9); r=10 best is l=1 -> match.
    # l=2 best is r=10 too (0.8) but loses -> no match for 2 in round 1.
    # l=3 / r=30 mutually best -> match.
    df = _pairs(
        spark,
        [
            (1, 10, 0.9),
            (2, 10, 0.8),
            (2, 20, 0.5),
            (3, 30, 0.7),
            (3, 20, 0.6),
        ],
    )
    got = {
        (r.l_id, r.r_id)
        for r in mutual_best_match(df, score_col="score").collect()
    }
    assert got == {(1, 10), (3, 30)}


def test_mutual_best_tie_breaks_on_partner_id(spark):
    # equal scores: l=1 ties between r=20 and r=10 -> lowest r wins;
    # symmetric on the right side
    df = _pairs(spark, [(1, 20, 0.5), (1, 10, 0.5), (2, 10, 0.5)])
    got = {
        (r.l_id, r.r_id)
        for r in mutual_best_match(df, score_col="score").collect()
    }
    # l=1 prefers r=10; r=10 prefers l=1 (tie with l=2 -> lowest l)
    assert got == {(1, 10)}


def test_one_to_one_second_round_recovers_losers(spark):
    df = _pairs(
        spark,
        [
            (1, 10, 0.9),
            (2, 10, 0.8),  # loses r=10 in round 1, but...
            (2, 20, 0.5),  # ...matches r=20 in round 2
        ],
    )
    out = one_to_one_match(df, score_col="score", rounds=2).collect()
    by_round = {(r.l_id, r.r_id): r.match_round for r in out}
    assert by_round == {(1, 10): 1, (2, 20): 2}
    # injective overall
    ls = [r.l_id for r in out]
    rs = [r.r_id for r in out]
    assert len(ls) == len(set(ls)) and len(rs) == len(set(rs))


def test_one_to_one_rounds_validation(spark):
    df = _pairs(spark, [(1, 10, 0.9)])
    with pytest.raises(ValueError):
        one_to_one_match(df, rounds=0)


def test_waterfall_earliest_pass_claims_left(spark):
    p1 = _pairs(spark, [(1, 10, 1.0)])
    p2 = _pairs(spark, [(1, 99, 0.99), (2, 20, 0.4), (2, 30, 0.6)])
    out = linkage_waterfall(
        [("exact", p1), ("fuzzy", p2)], score_col="score"
    ).collect()
    rows = {r.l_id: (r.r_id, r.pass_name, r.pass_rank) for r in out}
    # l=1 claimed by pass 1 even though pass 2 has a higher score
    assert rows[1] == (10, "exact", 1)
    # l=2 only in pass 2: best score wins
    assert rows[2] == (30, "fuzzy", 2)
    assert len(out) == 2


def test_waterfall_requires_passes(spark):
    with pytest.raises(ValueError):
        linkage_waterfall([])


def test_waterfall_single_exchange_plan(spark):
    # the union+window shape must not add one exchange per pass
    p1 = _pairs(spark, [(1, 10, 1.0)])
    p2 = _pairs(spark, [(2, 20, 0.4)])
    p3 = _pairs(spark, [(3, 30, 0.2)])
    plan = linkage_waterfall(
        [("a", p1), ("b", p2), ("c", p3)], score_col="score"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


# ---------------------------------------------------------------------------
# group linkage
# ---------------------------------------------------------------------------


def test_group_linkage_jaccard_of_matched_members(spark):
    from rlr_spark.operators.matching import group_linkage

    # household A = {1,2,3}, B = {10,11,12,13}; 2 members match 1:1
    links = spark.createDataFrame(
        [
            ("A", "B", 1, 10, 0.9),
            ("A", "B", 2, 11, 0.8),
            ("A", "B", 1, 11, 0.7),   # competes, loses both windows
            ("A", "C", 3, 20, 0.95),  # different group pair
        ],
        "l_group string, r_group string, l_id long, r_id long, score double",
    )
    lsz = spark.createDataFrame([("A", 3)], "g string, n long")
    rsz = spark.createDataFrame([("B", 4), ("C", 1)], "g string, n long")
    out = {
        (r.l_group, r.r_group): (r.n_matched, r.group_sim)
        for r in group_linkage(links, lsz, rsz).collect()
    }
    # A-B: 2 matched of |A|+|B|-2 = 5 -> 0.4
    assert out[("A", "B")] == (2, 0.4)
    # A-C: 1 matched of 3+1-1 = 3
    assert out[("A", "C")] == (1, round(1 / 3, 6))


def test_group_linkage_one_to_one_within_group_pair(spark):
    from rlr_spark.operators.matching import group_linkage

    # one left member linked to two right members: only the best counts
    links = spark.createDataFrame(
        [("A", "B", 1, 10, 0.9), ("A", "B", 1, 11, 0.95)],
        "l_group string, r_group string, l_id long, r_id long, score double",
    )
    lsz = spark.createDataFrame([("A", 1)], "g string, n long")
    rsz = spark.createDataFrame([("B", 2)], "g string, n long")
    row = group_linkage(links, lsz, rsz).collect()[0]
    assert row.n_matched == 1 and row.group_sim == 0.5 and row.avg_score == 0.95
