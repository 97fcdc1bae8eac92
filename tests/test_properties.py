"""Property-based tests (SURVEY.md §5.2): invariants under random inputs."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

LABELS = ["", "Match", "Not a Match", "Maybe a Match"]


@given(labels=st.lists(st.sampled_from(LABELS), min_size=1, max_size=60))
@_slow
def test_label_counts_sum_to_total(spark, labels):
    """The reference's own invariant (rlr.py:363-366): label counts —
    including the Unlabeled bucket — always sum to the row count."""
    from rlr_spark.operators.review import label_counts

    df = spark.createDataFrame([(i, lab) for i, lab in enumerate(labels)], "id long, rlr_label string")
    counts = label_counts(df).collect()
    assert sum(r["count"] for r in counts) == len(labels)
    n_unlabeled = sum(1 for lab in labels if lab == "")
    got_unlabeled = {r.label: r["count"] for r in counts}.get("Unlabeled", 0)
    assert got_unlabeled == n_unlabeled


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), min_size=0, max_size=40
    )
)
@_slow
def test_cc_is_valid_partition_matching_union_find(spark, edges):
    """CC output: every touched node appears exactly once, entity ids are
    component minima, and membership equals a reference union-find."""
    from rlr_spark.operators.cluster import connected_components

    df = spark.createDataFrame(edges, "u long, v long") if edges else None
    if df is None or not edges:
        return
    out = {r.node: r.entity_id for r in connected_components(df).collect()}

    # reference union-find
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    touched = set()
    for u, v in edges:
        if u != v:
            touched |= {u, v}
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)

    assert set(out) == touched
    for node in touched:
        comp_members = [n for n in touched if find(n) == find(node)]
        assert out[node] == min(comp_members)


@given(
    sims=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False), min_size=1, max_size=40
    ),
    upper=st.floats(min_value=-3, max_value=6, allow_nan=False),
)
@_slow
def test_fs_labels_are_total_and_exclusive(spark, sims, upper):
    """Every scored pair gets exactly one label; Match iff score >= upper."""
    from rlr_spark.operators.scoring import FSWeights, score_and_label

    lower = upper - 2.0
    w = FSWeights(groups={"s": (0.9, 0.05)}, agree_threshold=0.5, upper=upper, lower=lower)
    df = spark.createDataFrame([(s,) for s in sims], "s double")
    rows = score_and_label(df, w).collect()
    assert len(rows) == len(sims)
    for r in rows:
        assert r.rlr_label in ("Match", "Not a Match", "Maybe a Match")
        assert (r.rlr_label == "Match") == (r.fs_score >= upper)
        assert r.rlr_label_ind == 1


# ---------------------------------------------------------------------------
# round-6 comparators: metric/bound properties (pure Python, no Spark)
# ---------------------------------------------------------------------------

_word = st.text(alphabet="abcdefg", min_size=0, max_size=12)


@given(a=_word, b=_word, c=_word)
@settings(max_examples=200, deadline=None)
def test_damerau_is_a_metric(a, b, c):
    from rlr_spark.functions.similarity import damerau_levenshtein_py as dl

    # identity, symmetry, triangle inequality (true DL is a metric;
    # the OSA variant famously is NOT — this property would catch a
    # silent downgrade to OSA via ab<->ba, ca<->ac style triples)
    assert dl(a, b) == 0 if a == b else dl(a, b) > 0
    assert dl(a, b) == dl(b, a)
    assert dl(a, c) <= dl(a, b) + dl(b, c)


@given(a=_word, b=_word)
@settings(max_examples=100, deadline=None)
def test_jaro_winkler_bounds_and_symmetry(a, b):
    from rlr_spark.functions.similarity import jaro_winkler_py as jw

    s = jw(a, b)
    assert 0.0 <= s <= 1.0
    assert s == jw(b, a)
    if a == b and a:
        assert s == 1.0


@given(
    l=st.lists(st.integers(0, 63), min_size=0, max_size=30),
    r=st.lists(st.integers(0, 63), min_size=0, max_size=30),
)
@settings(
    max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
def test_dice_bounds_and_symmetry(spark, l, r):
    from pyspark.sql import functions as F

    from rlr_spark.functions.ppl import dice

    ls, rs = sorted(set(l)), sorted(set(r))
    row = (
        spark.createDataFrame([(ls, rs)], "l array<int>, r array<int>")
        .select(
            dice(F.col("l"), F.col("r")).alias("d"),
            dice(F.col("r"), F.col("l")).alias("dr"),
        )
        .collect()[0]
    )
    assert 0.0 <= row["d"] <= 1.0
    assert row["d"] == row["dr"]
    if ls and ls == rs:
        assert row["d"] == 1.0
