"""TF-adjusted Fellegi-Sunter scoring + B-cubed cluster metrics,
verified against pure-Python reimplementations."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from rlr_spark.operators.evaluate import bcubed
from rlr_spark.operators.scoring import fs_score_tf

RECORDS = [
    # (id, name, lang): "smith" is common, "zabriskie" rare
    (0, "Smith", "en"),
    (1, "smith", "en"),
    (2, "smith ", "en"),
    (3, "jones", "en"),
    (4, "Zabriskie", "de"),
    (5, "zabriskie", "de"),
    (6, None, "en"),
]

PAIRS = [
    # (l_id, r_id, l_name, r_name, l_lang, r_lang)
    (0, 1, "Smith", "smith", "en", "en"),        # common-value agreement
    (4, 5, "Zabriskie", "zabriskie", "de", "de"),  # rare-value agreement
    (0, 3, "Smith", "jones", "en", "en"),        # name disagrees
    (0, 6, "Smith", None, "en", "en"),           # NULL side -> disagreement
]

FIELDS = {"name": (0.95, 0.05), "lang": (0.9, 0.3)}
EPS = 1e-6


def _py_tf():
    n = len(RECORDS)
    freq = {
        "name": Counter(r[1].strip().lower() for r in RECORDS if r[1] is not None),
        "lang": Counter(r[2].strip().lower() for r in RECORDS if r[2] is not None),
    }
    out = {}
    for l_id, r_id, ln, rn, ll, rl in PAIRS:
        s = 0.0
        for f, (lv, rv) in (("name", (ln, rn)), ("lang", (ll, rl))):
            m, u = FIELDS[f]
            if (
                lv is not None
                and rv is not None
                and lv.strip().lower() == rv.strip().lower()
            ):
                tf = freq[f][lv.strip().lower()] / n
                tf = min(max(tf, EPS), 1 - EPS)
                s += math.log2(m / tf)
            else:
                s += math.log2((1 - m) / (1 - u))
        out[(l_id, r_id)] = s
    return out


def test_fs_tf_matches_python(spark):
    recs = spark.createDataFrame(RECORDS, "id long, name string, lang string")
    pairs = spark.createDataFrame(
        PAIRS, "l_id long, r_id long, l_name string, r_name string,"
        " l_lang string, r_lang string"
    )
    got = {
        (r.l_id, r.r_id): r.fs_score_tf
        for r in fs_score_tf(pairs, recs, FIELDS).collect()
    }
    want = _py_tf()
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9), k


def test_rare_agreement_outweighs_common(spark):
    recs = spark.createDataFrame(RECORDS, "id long, name string, lang string")
    pairs = spark.createDataFrame(
        PAIRS, "l_id long, r_id long, l_name string, r_name string,"
        " l_lang string, r_lang string"
    )
    got = {
        (r.l_id, r.r_id): r.fs_score_tf
        for r in fs_score_tf(pairs, recs, FIELDS).collect()
    }
    assert got[(4, 5)] > got[(0, 1)]        # zabriskie > smith
    assert got[(0, 1)] > got[(0, 3)]        # agreement > disagreement
    assert got[(0, 6)] == got[(0, 3)]       # NULL side == disagreement


def test_fs_tf_requires_fields(spark):
    recs = spark.createDataFrame(RECORDS, "id long, name string, lang string")
    pairs = spark.createDataFrame([], "l_id long, r_id long")
    with pytest.raises(ValueError):
        fs_score_tf(pairs, recs, {})


# ---------------------------------------------------------------------------
# B-cubed
# ---------------------------------------------------------------------------

ASSIGN = [(i, c) for i, c in enumerate([1, 1, 1, 2, 2, 3, 4])]
TRUTH = [(i, t) for i, t in enumerate([1, 1, 2, 2, 2, 3, 3])]


def _py_bcubed():
    c_of = dict(ASSIGN)
    t_of = dict(TRUTH)
    c_members = defaultdict(set)
    t_members = defaultdict(set)
    for i, c in ASSIGN:
        c_members[c].add(i)
    for i, t in TRUTH:
        t_members[t].add(i)
    ps, rs = [], []
    for i in c_of:
        inter = len(c_members[c_of[i]] & t_members[t_of[i]])
        ps.append(inter / len(c_members[c_of[i]]))
        rs.append(inter / len(t_members[t_of[i]]))
    p, r = sum(ps) / len(ps), sum(rs) / len(rs)
    return p, r, 2 * p * r / (p + r)


def test_bcubed_matches_python(spark):
    a = spark.createDataFrame(ASSIGN, "doc_id long, entity_id long")
    t = spark.createDataFrame(TRUTH, "doc_id long, entity_id long")
    row = bcubed(a, t).collect()[0]
    p, r, f1 = _py_bcubed()
    assert row.n_records == 7
    assert row.bcubed_precision == pytest.approx(p, abs=1e-6)
    assert row.bcubed_recall == pytest.approx(r, abs=1e-6)
    assert row.bcubed_f1 == pytest.approx(f1, abs=1e-6)


def test_bcubed_perfect_clustering(spark):
    a = spark.createDataFrame(TRUTH, "doc_id long, entity_id long")
    t = spark.createDataFrame(TRUTH, "doc_id long, entity_id long")
    row = bcubed(a, t).collect()[0]
    assert row.bcubed_precision == 1.0 == row.bcubed_recall == row.bcubed_f1


def test_bcubed_inner_join_semantics(spark):
    # ids present on only one side are excluded
    a = spark.createDataFrame(ASSIGN + [(99, 9)], "doc_id long, entity_id long")
    t = spark.createDataFrame(TRUTH, "doc_id long, entity_id long")
    assert bcubed(a, t).collect()[0].n_records == 7
