"""Large-star/small-star CC on hand-built graphs (FIXTURES.md F5)."""

import pytest
from pyspark.sql import functions as F

from rlr_spark.operators.cluster import cluster_pairs, connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "u long, v long")
    out = connected_components(df, **kw).collect()
    return {r.node: r.entity_id for r in out}


def test_chain(spark):
    assign = _cc(spark, [(i, i + 1) for i in range(10)])
    assert set(assign.values()) == {0}
    assert set(assign.keys()) == set(range(11))


def test_star(spark):
    assign = _cc(spark, [(5, i) for i in range(6, 12)])
    assert set(assign.values()) == {5}


def test_two_components(spark):
    assign = _cc(spark, [(0, 1), (1, 2), (10, 11), (11, 12)])
    assert assign[0] == assign[1] == assign[2] == 0
    assert assign[10] == assign[11] == assign[12] == 10


def test_self_loop_and_duplicates(spark):
    assign = _cc(spark, [(3, 3), (1, 2), (2, 1), (1, 2)])
    assert assign.get(1) == 1 and assign.get(2) == 1
    assert 3 not in assign  # self-loop contributes no edge; caller coalesces


def test_reversed_and_dense(spark):
    # K4 plus an appendage, edges in arbitrary orientation
    edges = [(2, 1), (1, 3), (4, 2), (3, 4), (1, 4), (2, 3), (5, 4)]
    assign = _cc(spark, edges)
    assert set(assign.values()) == {1}
    assert set(assign.keys()) == {1, 2, 3, 4, 5}


@pytest.mark.parametrize("n", [2, 7, 29])
def test_chain_lengths(spark, n):
    assign = _cc(spark, [(i, i + 1) for i in range(n)])
    assert set(assign.values()) == {0}


@pytest.mark.parametrize("n", [2, 7, 29])
def test_distributed_path_matches_local(spark, n):
    """Force the star loop (local_threshold=0) — both paths must produce
    identical min-id assignments on the same graphs."""
    edges = [(i, i + 1) for i in range(n)] + [(100, 101), (103, 101)]
    dist = _cc(spark, edges, local_threshold=0)
    loc = _cc(spark, edges)
    assert dist == loc
    assert set(dist.values()) == {0, 100}


_RAW_EDGE_SETS = {
    "duplicates": [(1, 2), (1, 2), (2, 3), (2, 3), (2, 3), (7, 8), (7, 8)],
    "reversed": [(2, 1), (1, 2), (3, 2), (9, 8), (8, 9), (4, 9)],
    "self_loops": [(3, 3), (1, 2), (2, 2), (5, 5), (6, 7), (7, 7)],
    # a long chain in mixed orientation: the worst case for propagation
    "long_chain": [(i, i + 1) if i % 3 else (i + 1, i) for i in range(300)],
    "only_self_loops": [(4, 4), (9, 9)],
}


@pytest.mark.parametrize("name", sorted(_RAW_EDGE_SETS))
def test_known_edge_count_matches_sizing_path(spark, name):
    """``edge_count`` (a measured raw row count) skips the dedup shuffle,
    checkpoint and fingerprint: the raw edges go straight to one Arrow
    collect. The assignment must be the sizing path's on raw edges with
    duplicates, both orientations and self-loops, and over the
    threshold the count must fall back to the sizing path."""
    from rlr_spark.plans import count_jobs

    edges = _RAW_EDGE_SETS[name]
    df = spark.createDataFrame(edges, "u long, v long")
    want = _cc(spark, edges)
    jobs, known = count_jobs(
        spark.sparkContext, lambda: connected_components(df, edge_count=len(edges))
    )
    assert jobs == 1
    assert {r.node: r.entity_id for r in known.collect()} == want
    over = _cc(spark, edges, local_threshold=len(edges) - 1, edge_count=len(edges))
    assert over == want


def test_local_components_upload_is_one_slice(spark):
    """The driver-built assignment reaches Spark as ONE partition, so a
    join that broadcasts it (the cluster write) runs one task for it,
    not ``defaultParallelism`` (the entities update consumes the same
    assignment)."""
    edges = [(i, i + 1) for i in range(0, 200, 2)]
    df = spark.createDataFrame(edges, "u long, v long")
    assign = connected_components(df, edge_count=len(edges))
    assert spark.sparkContext.defaultParallelism > 1
    assert assign.rdd.getNumPartitions() == 1
    assert {r.node: r.entity_id for r in assign.collect()} == {
        n: n - n % 2 for n in range(200)
    }


def _keyed_cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "u long, v long, k string")
    out = connected_components(df, key_col="k", **kw).collect()
    return {r.node: (r.entity_id, r.entity_key) for r in out}


_KEYED_EDGES = [
    # a chain whose min key sits on its last edge
    (1, 2, "m"), (2, 3, "k"), (3, 4, "c"),
    # a component with a NULL key and a duplicate edge
    (10, 11, None), (11, 12, "q"), (12, 11, "p"),
    # every key NULL
    (20, 21, None),
    # a self-loop's key counts for nothing, and alone it makes no node
    (30, 31, "z"), (30, 30, "a"), (40, 40, "b"),
]
_KEYED_WANT = {
    **{n: (1, "c") for n in (1, 2, 3, 4)},
    **{n: (10, "p") for n in (10, 11, 12)},
    20: (20, None), 21: (20, None),
    30: (30, "z"), 31: (30, "z"),
}


@pytest.mark.parametrize(
    "kw",
    [{}, {"edge_count": len(_KEYED_EDGES)}, {"local_threshold": 0}],
    ids=["sized", "known_count", "distributed"],
)
def test_key_col_min_key_per_component(spark, kw):
    """``key_col``: every node gets ``entity_key``, the min key over its
    component's edges (NULLs skipped, as ``min`` skips them; self-loops
    excluded), the same on the known-count local path, the sizing path
    and the distributed star loop; the assignment is the keyless one."""
    assert _keyed_cc(spark, _KEYED_EDGES, **kw) == _KEYED_WANT
    keyless = _cc(spark, [(u, v) for u, v, _ in _KEYED_EDGES], **kw)
    assert keyless == {n: eid for n, (eid, _) in _KEYED_WANT.items()}


def test_key_col_empty_and_one_slice(spark):
    """No edges (or only self-loops) give an empty keyed assignment with
    the key's type; the local path uploads one slice, keys included."""
    df = spark.createDataFrame([(4, 4, "a")], "u long, v long, k string")
    empty = connected_components(df, edge_count=1, key_col="k")
    assert empty.collect() == []
    assert empty.dtypes == [("node", "bigint"), ("entity_id", "bigint"), ("entity_key", "string")]
    edges = [(i, i + 1, f"k{i:03d}") for i in range(0, 200, 2)]
    df = spark.createDataFrame(edges, "u long, v long, k string")
    assign = connected_components(df, edge_count=len(edges), key_col="k")
    assert assign.rdd.getNumPartitions() == 1
    assert {r.node: r.entity_key for r in assign.collect()} == {
        n: f"k{n - n % 2:03d}" for n in range(200)
    }


def test_key_counts_detects_duplicates(spark):
    """The shared collision check: exact (rows, distinct keys), NULL keys
    counted as rows but not as keys (countDistinct's rule), empty input
    (0, 0)."""
    from rlr_spark.operators.cluster import key_counts

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "c"), (3, "d"), (None, "e")], "k long, x string"
    )
    assert key_counts(df, "k") == (5, 3)
    assert key_counts(df.where("k != 2"), "k") == (2, 2)
    assert key_counts(df.limit(0), "k") == (0, 0)
    want = df.agg(F.count("*").alias("n"), F.countDistinct("k").alias("nk")).collect()[0]
    assert key_counts(df.repartition(3), "k") == (want.n, want.nk)


def test_dense_ids_fallback_deterministic(spark):
    """The collision fallback dictionary: dense 0..N-1, ordered by id,
    distributed (no single-partition window)."""
    from rlr_spark.operators.cluster import _dense_ids

    ids = spark.createDataFrame(
        [("u3",), ("u1",), ("u2",), ("u0",)], "url string"
    ).select(F.col("url").alias("_id")).repartition(3)
    got = {r._id: r._nid for r in _dense_ids(ids).collect()}
    assert got == {"u0": 0, "u1": 1, "u2": 2, "u3": 3}


def test_cluster_pairs_string_ids(spark):
    ids = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("lonely",)], "url string"
    )
    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], "l_id string, r_id string")
    out = cluster_pairs(pairs, ids)
    rows = {r.url: r.entity_key for r in out.collect()}
    assert rows["a"] == rows["b"] == rows["c"] == "a"
    assert rows["d"] == "d"
    assert rows["lonely"] == "lonely"
    # one entity per node, everyone assigned
    assert out.count() == 5
    assert out.select("url").distinct().count() == 5


def test_golden_records_survivorship(spark):
    """Canonical-record construction: longest value survives (ties ->
    smallest id), modal value survives (ties -> smallest value), all
    deterministic — never arrival-order-dependent."""
    from rlr_spark.operators.cluster import golden_records

    recs = spark.createDataFrame(
        [
            # entity A: text lengths 5,9,9 (tie at 9 -> doc 2 wins);
            # langs en,en,de -> en
            (1, "short", 5, "en"),
            (2, "long text", 9, "en"),
            (3, "LONG TEXT", 9, "de"),
            # entity B: lang tie fr/de 1-1 -> 'de' (smallest value)
            (4, "x", 1, "fr"),
            (5, "xy", 2, "de"),
            # entity C: singleton
            (6, "solo", 4, "en"),
        ],
        "doc_id long, text string, n_chars long, lang string",
    )
    assign = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 200), (5, 200), (6, 300)],
        "doc_id long, entity_id long",
    )
    out = {
        r.entity_id: r
        for r in golden_records(
            assign, recs, "doc_id",
            longest_col="text", length_col="n_chars", mode_cols=("lang",),
        ).collect()
    }
    a, b, c = out[100], out[200], out[300]
    assert (a.entity_key, a.n_members) == (1, 3)
    assert a.text_golden == "long text"  # length tie -> smaller doc_id
    assert a.lang_golden == "en"
    assert b.text_golden == "xy" and b.lang_golden == "de"  # count tie -> min value
    assert (c.n_members, c.text_golden, c.lang_golden) == (1, "solo", "en")


def test_golden_records_string_ids(spark):
    """The cluster stage's primary assignment shape is url-keyed
    (strings); the longest-value tie-break must stay valid there —
    negating a string id crashes under ANSI."""
    from rlr_spark.operators.cluster import golden_records

    recs = spark.createDataFrame(
        [("ua", "long text", 9), ("ub", "LONG TEXT", 9), ("uc", "s", 1)],
        "url string, text string, n_chars long",
    )
    assign = spark.createDataFrame(
        [("ua", "e1"), ("ub", "e1"), ("uc", "e2")],
        "url string, entity_id string",
    )
    out = {
        r.entity_id: r
        for r in golden_records(
            assign, recs, "url", longest_col="text", length_col="n_chars"
        ).collect()
    }
    assert out["e1"].text_golden == "long text"  # tie -> smallest url "ua"
    assert out["e1"].entity_key == "ua" and out["e1"].n_members == 2
    assert out["e2"].text_golden == "s"


def test_golden_records_mode_skips_nulls(spark):
    """Mode survivorship ignores NULL member values: the golden value is
    the most frequent value among members that HAVE one (an all-NULL
    column stays NULL) — survivorship wants a non-null canonical value
    whenever any member supplies one."""
    from rlr_spark.operators.cluster import golden_records

    recs = spark.createDataFrame(
        [(1, None, None), (2, None, None), (3, "de", None)],
        "doc_id long, lang string, site string",
    )
    assign = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100)], "doc_id long, entity_id long"
    )
    row = golden_records(
        assign, recs, "doc_id", mode_cols=("lang", "site")
    ).collect()[0]
    assert row.lang_golden == "de"  # 2 NULLs never outvote one real value
    assert row.site_golden is None
