"""Uncertainty-sampled review queue (operators/scoring.py review_queue).

The queue is the active-learning front-end to the reference's review
loop (backend/rlr.py label navigation): surface the k pairs whose FS
score sits nearest a decision threshold. Checks: value semantics vs a
driver-side recomputation, deterministic tie-breaks, the stratified
per-pattern variant, and the global plan shape (TakeOrderedAndProject —
per-partition heaps, never a global sort).
"""

from __future__ import annotations

import pytest

from rlr_spark.operators.scoring import review_queue


@pytest.fixture(scope="module")
def scored(spark):
    # deterministic synthetic scores spanning both thresholds, with
    # deliberate margin ties (ids 0..99, score = (i % 21) / 3 - 1 in
    # [-1.0, 5.67], upper=4, lower=0)
    rows = [(i, i + 1000, round((i % 21) / 3.0 - 1.0, 6), "p%d" % (i % 3)) for i in range(100)]
    return spark.createDataFrame(rows, "l_id long, r_id long, fs_score double, pattern string")


def _expected(rows, k, upper=4.0, lower=0.0):
    def margin(s):
        return round(min(abs(s - upper), abs(s - lower)), 6)

    return sorted(
        ((margin(s), l, r) for l, r, s, _ in rows),
    )[:k]


def test_global_topk_values(spark, scored):
    rows = [(r.l_id, r.r_id, r.fs_score, r.pattern) for r in scored.collect()]
    got = review_queue(scored, k=17, upper=4.0, lower=0.0).collect()
    assert len(got) == 17
    exp = _expected(rows, 17)
    assert [(r["margin"], r["l_id"], r["r_id"]) for r in got] == exp
    # margins ascend and ties break on (l_id, r_id): queue is a function
    # of the data, not of partitioning
    margins = [r["margin"] for r in got]
    assert margins == sorted(margins)


def test_global_topk_partitioning_invariant(spark, scored):
    a = review_queue(scored.repartition(13), k=25).collect()
    b = review_queue(scored.coalesce(1), k=25).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_stratified_rank_per_pattern(spark, scored):
    got = review_queue(scored, k=5, pattern_cols=("pattern",)).collect()
    by_pat: dict[str, list] = {}
    for r in got:
        by_pat.setdefault(r["pattern"], []).append(r)
    assert set(by_pat) == {"p0", "p1", "p2"}
    for pat, rs in by_pat.items():
        assert len(rs) == 5, pat
        assert sorted(r["queue_rank"] for r in rs) == [1, 2, 3, 4, 5]
        margins = [r["margin"] for r in sorted(rs, key=lambda r: r["queue_rank"])]
        assert margins == sorted(margins)


def test_global_plan_is_takeordered(spark, scored):
    plan = review_queue(scored, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan
