"""Round-6 operator additions: damerau comparator, unique-unique rule
cascade, NULL-aware FS levels, V-measure/purity, unlinkables."""

from __future__ import annotations

import math
import random

import duckdb
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Damerau-Levenshtein
# ---------------------------------------------------------------------------

def test_damerau_matches_duckdb_on_ascii():
    from rlr_spark.functions.similarity import damerau_levenshtein_py

    con = duckdb.connect()
    rng = random.Random(7)
    alph = "abcdef"
    for _ in range(500):
        a = "".join(rng.choice(alph) for _ in range(rng.randint(0, 10)))
        b = "".join(rng.choice(alph) for _ in range(rng.randint(0, 10)))
        want = con.execute("SELECT damerau_levenshtein(?, ?)", [a, b]).fetchone()[0]
        assert damerau_levenshtein_py(a, b) == want, (a, b)


def test_damerau_is_true_dl_not_osa():
    from rlr_spark.functions.similarity import damerau_levenshtein_py

    # the discriminating case: OSA gives 3, unrestricted DL gives 2
    assert damerau_levenshtein_py("CA", "ABC") == 2
    # adjacent transposition is a single edit
    assert damerau_levenshtein_py("jonh", "john") == 1
    assert damerau_levenshtein_py("", "abc") == 3
    assert damerau_levenshtein_py(None, "ab") == 2


def test_damerau_sim_column(spark):
    from rlr_spark.functions.similarity import damerau_sim

    df = spark.createDataFrame(
        [("Smith", "Smyth"), ("jonh", "john"), ("", ""), (None, "x")],
        ["l", "r"],
    )
    got = {
        (r["l"], r["r"]): r["s"]
        for r in df.select("l", "r", F.round(damerau_sim(F.col("l"), F.col("r")), 6).alias("s")).collect()
    }
    assert got[("Smith", "Smyth")] == pytest.approx(1 - 1 / 5)
    assert got[("jonh", "john")] == pytest.approx(1 - 1 / 4)
    assert got[("", "")] == 1.0  # both empty: identical
    assert got[(None, "x")] == 0.0  # null treated as empty


# ---------------------------------------------------------------------------
# rule_cascade
# ---------------------------------------------------------------------------

def test_rule_cascade_unique_unique_and_residual(spark):
    from rlr_spark.operators.matching import rule_cascade

    # left: two records share key 'a' in pass1 (so neither links there),
    # but in pass2 l1 is claimed and l2 becomes unique on 'a'-loose
    left = spark.createDataFrame(
        [(1, "a", "p"), (2, "a", "q"), (3, "b", "r"), (4, None, "s")],
        ["l_id", "k1", "k2"],
    )
    right = spark.createDataFrame(
        [(10, "b", "x"), (11, "c", "q"), (12, "a", "p")],
        ["r_id", "k1", "k2"],
    )
    out = rule_cascade(
        left,
        right,
        [
            ("exact_k1", F.col("k1"), F.col("k1")),
            ("exact_k2", F.col("k2"), F.col("k2")),
        ],
    )
    rows = {(r["l_id"], r["r_id"]): (r["pass_name"], r["pass_rank"]) for r in out.collect()}
    # pass1: key 'b' unique both sides -> (3,10); key 'a' has TWO lefts -> no link
    assert rows[(3, 10)] == ("exact_k1", 1)
    # pass2 on residue: l1/k2='p' unique, r12/k2='p' unique -> (1,12);
    # l2/k2='q' unique left, r11/k2='q' unique right (r10 gone) -> (2,11)
    assert rows[(1, 12)] == ("exact_k2", 2)
    assert rows[(2, 11)] == ("exact_k2", 2)
    assert len(rows) == 3  # l4 has NULL keys -> never links


def test_rule_cascade_right_residual_shrinks(spark):
    from rlr_spark.operators.matching import rule_cascade

    # r10 is claimed in pass1; in pass2 key 'z' would be ambiguous on
    # the right if r10 stayed -- it must NOT be
    left = spark.createDataFrame([(1, "a", None), (2, None, "z")], ["l_id", "k1", "k2"])
    right = spark.createDataFrame(
        [(10, "a", "z"), (11, None, "z")], ["r_id", "k1", "k2"]
    )
    out = rule_cascade(
        left,
        right,
        [("p1", F.col("k1"), F.col("k1")), ("p2", F.col("k2"), F.col("k2"))],
    ).collect()
    rows = {(r["l_id"], r["r_id"]): r["pass_name"] for r in out}
    assert rows == {(1, 10): "p1", (2, 11): "p2"}


# ---------------------------------------------------------------------------
# fs_score_nullsafe
# ---------------------------------------------------------------------------

def test_fs_nullsafe_levels(spark):
    from rlr_spark.operators.scoring import FSWeights, fs_score_nullsafe

    w = FSWeights(groups={"sim": (0.9, 0.1)}, agree_threshold=0.8)
    df = spark.createDataFrame([(1, 0.95), (2, 0.10), (3, None)], ["id", "sim"])
    out = {r["id"]: (r["gamma_sim"], r["fs_score"]) for r in fs_score_nullsafe(df, w).collect()}
    assert out[1] == (2, pytest.approx(math.log2(0.9 / 0.1)))
    assert out[2] == (0, pytest.approx(math.log2(0.1 / 0.9)))
    assert out[3] == (-1, pytest.approx(0.0))  # missing: uninformative, not disagreement


# ---------------------------------------------------------------------------
# vmeasure / purity
# ---------------------------------------------------------------------------

def test_vmeasure_perfect_and_known(spark):
    from rlr_spark.operators.evaluate import vmeasure

    ids = [(i, f"c{i % 3}") for i in range(9)]
    assign = spark.createDataFrame(ids, ["doc_id", "entity_id"])
    perfect = vmeasure(assign, assign).collect()[0]
    assert perfect["homogeneity"] == 1.0
    assert perfect["completeness"] == 1.0
    assert perfect["v_measure"] == 1.0
    assert perfect["purity"] == 1.0

    # all-in-one prediction: homogeneity 0 (clusters mix everything),
    # completeness 1 (each class entirely inside the single cluster)
    one = spark.createDataFrame([(i, "all") for i in range(9)], ["doc_id", "entity_id"])
    r = vmeasure(one, assign).collect()[0]
    assert r["homogeneity"] == 0.0
    assert r["completeness"] == 1.0
    assert r["v_measure"] == 0.0
    assert r["purity"] == pytest.approx(3 / 9)


def test_vmeasure_matches_sklearn_formula(spark):
    from rlr_spark.operators.evaluate import vmeasure

    # hand-check against the entropy definition on a small split case
    pred = [(0, "a"), (1, "a"), (2, "b"), (3, "b"), (4, "b"), (5, "c")]
    true = [(0, "x"), (1, "x"), (2, "x"), (3, "y"), (4, "y"), (5, "y")]
    assign = spark.createDataFrame(pred, ["doc_id", "entity_id"])
    truth = spark.createDataFrame(true, ["doc_id", "entity_id"])
    got = vmeasure(assign, truth).collect()[0]

    import collections

    n = 6
    nct = collections.Counter(zip([p[1] for p in pred], [t[1] for t in true]))
    nc = collections.Counter(p[1] for p in pred)
    nt = collections.Counter(t[1] for t in true)
    h_t_c = -sum(v / n * math.log(v / nc[c]) for (c, t), v in nct.items())
    h_c_t = -sum(v / n * math.log(v / nt[t]) for (c, t), v in nct.items())
    h_t = -sum(v / n * math.log(v / n) for v in nt.values())
    h_c = -sum(v / n * math.log(v / n) for v in nc.values())
    hom = 1 - h_t_c / h_t
    com = 1 - h_c_t / h_c
    assert got["homogeneity"] == pytest.approx(hom, abs=1e-6)
    assert got["completeness"] == pytest.approx(com, abs=1e-6)
    assert got["v_measure"] == pytest.approx(2 * hom * com / (hom + com), abs=1e-6)
    assert got["purity"] == pytest.approx((2 + 2 + 1) / 6, abs=1e-6)


# ---------------------------------------------------------------------------
# unlinkables
# ---------------------------------------------------------------------------

def test_unlinkables_curve(spark):
    from rlr_spark.operators.evaluate import unlinkables

    records = spark.createDataFrame([(i,) for i in range(1, 6)], ["doc_id"])
    scored = spark.createDataFrame(
        [(1, 2, 3.17), (1, 3, -1.02), (2, 3, -1.02)], ["l_id", "r_id", "fs_score"]
    )
    rows = unlinkables(records, scored).orderBy(F.asc_nulls_first("best_score")).collect()
    # records 4,5 have no candidates: NULL bucket first, 2/5 of mass
    assert rows[0]["best_score"] is None
    assert rows[0]["n_records"] == 2
    assert rows[0]["cum_prop"] == pytest.approx(0.4)
    # record 3's best is -1.0 (rounded); records 1,2 best 3.2
    assert [r["best_score"] for r in rows[1:]] == [-1.0, 3.2]
    assert [r["n_records"] for r in rows[1:]] == [1, 2]
    assert rows[-1]["cum_prop"] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# CLK Bloom-filter PPRL
# ---------------------------------------------------------------------------

def test_clk_positions_parity_and_dice(spark):
    import duckdb

    from rlr_spark.functions.ppl import clk_positions, clk_positions_sql, dice

    rows = [("Smith, John",), ("Smyth, Jon",), ("",), (None,)]
    df = spark.createDataFrame(rows, ["name"])
    got = [
        list(r["p"])
        for r in df.select(clk_positions(F.col("name")).alias("p")).collect()
    ]
    con = duckdb.connect()
    expr = clk_positions_sql("name")
    for g, (raw,) in zip(got, rows):
        want = con.execute(f"SELECT {expr} FROM (SELECT ? AS name)", [raw]).fetchone()[0]
        assert g == list(want)
    # similar names share most positions; dice reflects that
    d = (
        spark.createDataFrame([(got[0], got[1]), (got[0], got[0])], ["l", "r"])
        .select(F.round(dice(F.col("l"), F.col("r")), 6).alias("d"))
        .collect()
    )
    assert d[1]["d"] == 1.0
    assert 0.5 < d[0]["d"] < 1.0


# ---------------------------------------------------------------------------
# Soft TF-IDF
# ---------------------------------------------------------------------------

def test_soft_tfidf_identity_and_fuzz(spark):
    from rlr_spark.functions.tfidf import soft_tfidf_scores

    docs = spark.createDataFrame(
        [
            (1, "acme corp pittsburgh"),
            (2, "acme corp pittsburgh"),
            (3, "acme corporation pitsburgh"),
            (4, "zenith ltd boston"),
        ],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], ["l_id", "r_id"])
    got = {
        (r["l_id"], r["r_id"]): r["soft_tfidf"]
        for r in soft_tfidf_scores(pairs, docs, theta=0.85).collect()
    }
    # identical docs: unit-normalized weights, jw=1 everywhere -> 1.0
    assert got[(1, 2)] == pytest.approx(1.0, abs=1e-6)
    # typo'd tokens still matched through JW: high but < 1
    assert 0.6 < got[(1, 3)] < 1.0
    # no token pair above theta: exactly 0 (row kept, not dropped)
    assert got[(1, 4)] == 0.0


# ---------------------------------------------------------------------------
# Adamic-Adar
# ---------------------------------------------------------------------------

def test_adamic_adar_known_graph(spark):
    from rlr_spark.functions.graph import adamic_adar

    # u1,u2 share s1 (deg 2) and s2 (deg 3); u1,u3 share only s2;
    # s3 has deg 1 -> contributes nothing (and never divides by ln 1)
    edges = spark.createDataFrame(
        [(1, "s1"), (2, "s1"), (1, "s2"), (2, "s2"), (3, "s2"), (3, "s3"),
         (1, "s2")],  # duplicate edge must not double-count
        ["u", "s"],
    )
    got = {(r["l_id"], r["r_id"]): r["aa"] for r in adamic_adar(edges).collect()}
    w2, w3 = 1 / math.log(2), 1 / math.log(3)
    assert got[(1, 2)] == pytest.approx(w2 + w3, abs=1e-6)
    assert got[(1, 3)] == pytest.approx(w3, abs=1e-6)
    assert got[(2, 3)] == pytest.approx(w3, abs=1e-6)
    assert len(got) == 3


# ---------------------------------------------------------------------------
# token-sort ratio / cluster stability
# ---------------------------------------------------------------------------

def test_token_sort_order_free(spark):
    from rlr_spark.functions.similarity import token_sort_sim

    df = spark.createDataFrame(
        [("john smith", "smith john"), ("john smith", "jon smith"), ("", "")],
        ["l", "r"],
    )
    got = [
        r["s"]
        for r in df.select(F.round(token_sort_sim(F.col("l"), F.col("r")), 6).alias("s")).collect()
    ]
    assert got[0] == 1.0  # pure reordering costs nothing
    assert 0.85 < got[1] < 1.0  # one dropped char
    assert got[2] == 1.0


def test_cluster_stability_regimes(spark):
    from rlr_spark.operators.evaluate import cluster_stability

    # chain 1-2-3 at score >= 1; only 1-2 at >= 5; nothing at >= 9
    scored = spark.createDataFrame(
        [(1, 2, 6.0), (2, 3, 2.0)], ["l_id", "r_id", "fs_score"]
    )
    rows = {
        r["threshold"]: (r["n_entities"], r["n_linked_records"], r["max_cluster_size"])
        for r in cluster_stability(scored, thresholds=[1.0, 5.0, 9.0]).collect()
    }
    assert rows[1.0] == (1, 3, 3)
    assert rows[5.0] == (1, 2, 2)
    assert rows[9.0] == (0, 0, 0)  # empty edge set still yields a row


def test_numeric_levels(spark):
    from rlr_spark.functions.similarity import numeric_levels

    df = spark.createDataFrame(
        [(100.0, 101.0), (100.0, 115.0), (100.0, 300.0), (None, 5.0), (0.0, 0.0)],
        ["l", "r"],
    )
    got = [
        r["g"]
        for r in df.select(
            numeric_levels(F.col("l"), F.col("r"), abs_tol=2.0, rel_tol=0.2).alias("g")
        ).collect()
    ]
    # exact-ish / relative / disagree / missing / both-zero (no div-by-0)
    assert got == [2, 1, 0, -1, 2]


def test_transitivity_audit(spark):
    from rlr_spark.operators.evaluate import transitivity_audit

    # 1~2 and 2~3 matched; (1,3) scored below; (2,4) matched and (3,4)
    # never scored -> blocking-miss violation with NULL score
    scored = spark.createDataFrame(
        [(1, 2, 6.0), (2, 3, 5.0), (1, 3, 1.0), (2, 4, 6.0)],
        ["l_id", "r_id", "fs_score"],
    )
    rows = {
        (r["l_id"], r["r_id"]): (r["n_witnesses"], r["pair_score"])
        for r in transitivity_audit(scored, match_threshold=4.0).collect()
    }
    assert rows[(1, 3)] == (1, 1.0)  # witnessed by 2, scored sub-threshold
    assert rows[(3, 4)] == (1, None)  # witnessed by 2, never paired
    assert rows[(1, 4)] == (1, None)
    assert len(rows) == 3  # matched pairs themselves are not violations
