"""Meta-blocking: brute-force verification of weights + pruning.

Every scheme (CBS/JS/ECBS/ARCS) and both pruners (WEP, WNP or/and) are
checked against an independent pure-Python reimplementation over the
same block collection, so an aggregation or join mistake on the Spark
side cannot hide.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from rlr_spark.operators.metablocking import (
    blocking_graph,
    meta_blocking_pairs,
    prune_wep,
    prune_wnp,
    shingle_blocks,
)

DOCS = [
    # two near-duplicate groups + singletons; 3-token shingles overlap
    # heavily within a group, barely across groups
    (0, "alpha beta gamma delta epsilon zeta"),
    (1, "alpha beta gamma delta epsilon eta"),
    (2, "alpha beta gamma delta theta iota"),
    (3, "one two three four five six seven"),
    (4, "one two three four five six eight"),
    (5, "totally unrelated text goes here now"),
    (6, "alpha beta gamma nine ten eleven"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _py_blocks(min_block=2, purge_cap=64, k=3):
    """Block collection from STRING shingles (independent of the Spark
    side's hashed identities — equal membership unless xxhash64
    collides, which on fixed test data would fail loudly here)."""
    posts = defaultdict(set)
    for i, text in DOCS:
        toks = text.lower().split()
        sh = (
            {" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)}
            if len(toks) >= k
            else {" ".join(toks)}
        )
        for s in sh:
            posts[s].add(i)
    return {
        key: ids
        for key, ids in posts.items()
        if min_block <= len(ids) <= purge_cap
    }


def _py_edges(scheme, blocks):
    nbi = defaultdict(int)
    for ids in blocks.values():
        for i in ids:
            nbi[i] += 1
    n_blocks = len(blocks)
    cbs, arcs = defaultdict(int), defaultdict(float)
    for ids in blocks.values():
        ids = sorted(ids)
        card = len(ids) * (len(ids) - 1) / 2
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                e = (ids[a], ids[b])
                cbs[e] += 1
                arcs[e] += 1.0 / card
    out = {}
    for e, c in cbs.items():
        i, j = e
        if scheme == "cbs":
            out[e] = float(c)
        elif scheme == "arcs":
            out[e] = arcs[e]
        elif scheme == "js":
            out[e] = c / (nbi[i] + nbi[j] - c)
        elif scheme == "ecbs":
            out[e] = c * math.log(n_blocks / nbi[i]) * math.log(n_blocks / nbi[j])
    return out


def _spark_edges(docs_df, scheme):
    blocks = shingle_blocks(docs_df)
    rows = blocking_graph(blocks, scheme=scheme).collect()
    return {(r.l_id, r.r_id): r.weight for r in rows}


@pytest.mark.parametrize("scheme", ["cbs", "js", "ecbs", "arcs"])
def test_blocking_graph_weights_match_bruteforce(docs_df, scheme):
    got = _spark_edges(docs_df, scheme)
    want = _py_edges(scheme, _py_blocks())
    assert set(got) == set(want)
    for e in want:
        assert got[e] == pytest.approx(want[e], abs=1e-9), (e, scheme)


def test_purging_caps_block_size(spark):
    # a stop-shingle shared by every doc must be purged at cap < n_docs
    rows = [(i, f"common stop words u{i} v{i} w{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    blocks = shingle_blocks(df, purge_cap=5)
    sizes = [r.block_size for r in blocks.select("block_size").distinct().collect()]
    assert all(2 <= s <= 5 for s in sizes)
    # "common stop words" appears in all 10 docs -> gone
    assert blocking_graph(blocks, "cbs").count() == 0


def test_wep_keeps_only_above_global_mean(docs_df):
    edges = blocking_graph(shingle_blocks(docs_df), "cbs")
    w = _py_edges("cbs", _py_blocks())
    mean = sum(w.values()) / len(w)
    want = {e for e, x in w.items() if x >= mean}
    got = {(r.l_id, r.r_id) for r in prune_wep(edges).collect()}
    assert got == want


@pytest.mark.parametrize("mode", ["or", "and"])
def test_wnp_matches_bruteforce(docs_df, mode):
    edges = blocking_graph(shingle_blocks(docs_df), "cbs")
    w = _py_edges("cbs", _py_blocks())
    node_w = defaultdict(list)
    for (i, j), x in w.items():
        node_w[i].append(x)
        node_w[j].append(x)
    thr = {n: sum(v) / len(v) for n, v in node_w.items()}
    if mode == "or":
        want = {e for e, x in w.items() if x >= thr[e[0]] or x >= thr[e[1]]}
    else:
        want = {e for e, x in w.items() if x >= thr[e[0]] and x >= thr[e[1]]}
    got = {(r.l_id, r.r_id) for r in prune_wnp(edges, mode=mode).collect()}
    assert got == want


def test_wnp_and_is_subset_of_or(docs_df):
    edges = blocking_graph(shingle_blocks(docs_df), "js")
    a = {(r.l_id, r.r_id) for r in prune_wnp(edges, mode="and").collect()}
    o = {(r.l_id, r.r_id) for r in prune_wnp(edges, mode="or").collect()}
    assert a <= o


def test_meta_blocking_keeps_near_dup_pairs(docs_df):
    # the composed pipeline must retain the within-group heavy edges
    kept = {
        (r.l_id, r.r_id)
        for r in meta_blocking_pairs(docs_df, scheme="js", prune="wnp").collect()
    }
    assert (0, 1) in kept and (3, 4) in kept
    # and it must PRUNE something relative to the raw graph
    raw = blocking_graph(shingle_blocks(docs_df), "js").count()
    assert len(kept) < raw


def test_bad_args_raise(docs_df):
    with pytest.raises(ValueError):
        blocking_graph(shingle_blocks(docs_df), scheme="nope")
    with pytest.raises(ValueError):
        prune_wnp(blocking_graph(shingle_blocks(docs_df), "cbs"), mode="xor")
    with pytest.raises(ValueError):
        meta_blocking_pairs(docs_df, prune="bogus")
