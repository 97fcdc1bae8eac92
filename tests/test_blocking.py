import pytest
from pyspark.sql import functions as F

from rlr_spark.operators.blocking import (
    block_pairs,
    candidate_pairs,
    lsh_band_keys,
    normalized_domain,
)


def test_normalized_domain(spark):
    df = spark.createDataFrame(
        [
            ("https://WWW.Example.COM/a/b",),
            ("http://sub.site.org/x?q=1",),
            ("https://mega-site.com/p/1",),
        ],
        "url string",
    )
    keyed = df.withColumn("blk_key", normalized_domain(F.col("url")))
    got = [r.blk_key for r in keyed.collect()]
    assert got == ["example.com", "sub.site.org", "mega-site.com"]


def test_block_pairs_basic(spark):
    keyed = spark.createDataFrame(
        [("a", "k1"), ("b", "k1"), ("c", "k1"), ("d", "k2"), ("e", "k3"), ("f", "k3")],
        "id string, blk_key string",
    )
    pairs, stats = block_pairs(keyed, "id", salt_k=2, max_block_size=100)
    got = {(r.l_id, r.r_id) for r in pairs.collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c"), ("e", "f")}
    assert stats.n_dropped_blocks == 0


def test_block_pairs_salt_invariance(spark):
    """Salting changes physical distribution only — pair set invariant in K."""
    keyed = spark.createDataFrame(
        [(f"id{i}", f"k{i % 3}") for i in range(30)], "id string, blk_key string"
    )
    sets = []
    for k in (1, 4, 16):
        pairs, _ = block_pairs(keyed, "id", salt_k=k, max_block_size=None)
        sets.append(frozenset((r.l_id, r.r_id) for r in pairs.collect()))
    assert sets[0] == sets[1] == sets[2]
    assert len(sets[0]) == 3 * (10 * 9 // 2)


def test_block_cap_drops_and_logs(spark):
    keyed = spark.createDataFrame(
        [(f"id{i}", "hot") for i in range(50)] + [("x", "cold"), ("y", "cold")],
        "id string, blk_key string",
    )
    pairs, stats = block_pairs(keyed, "id", salt_k=2, max_block_size=10)
    got = {(r.l_id, r.r_id) for r in pairs.collect()}
    assert got == {("x", "y")}
    assert stats.n_dropped_blocks == 1
    assert stats.n_dropped_rows == 50


def test_lsh_bands_collide_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 6
    near = base.replace("lazy", "sleepy")
    far = "completely different words about databases and query engines " * 6
    df = spark.createDataFrame(
        [("u1", base), ("u2", near), ("u3", far)], "id string, text string"
    )
    keys = lsh_band_keys(df, "id", "text")
    pairs, _ = block_pairs(keys, "id", salt_k=1, max_block_size=None)
    got = {(r.l_id, r.r_id) for r in pairs.collect()}
    assert ("u1", "u2") in got
    assert ("u1", "u3") not in got and ("u2", "u3") not in got


def test_candidate_pairs_connect_planted_clusters(web_pages_small):
    """Blocking must *connect* ~every planted cluster (transitive recall):
    near-dup↔near-dup pairs may be missed directly as long as the cluster
    stays connected through the base member."""
    pages, truth = web_pages_small
    pairs, stats = candidate_pairs(pages, max_block_size=None, salt_k=2)

    entity = {r.url: r.entity_id for r in truth.collect()}
    parent = {u: u for u in entity}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        if entity.get(r.l_id) == entity.get(r.r_id):
            parent[find(r.l_id)] = find(r.r_id)

    from collections import defaultdict

    members = defaultdict(list)
    for u, e in entity.items():
        members[e].append(u)
    multi = [us for us in members.values() if len(us) > 1]
    connected = sum(1 for us in multi if len({find(u) for u in us}) == 1)
    assert len(multi) > 20
    assert connected / len(multi) >= 0.97

    # direct pairwise recall still decent
    true_pairs = (
        truth.alias("a")
        .join(truth.alias("b"), "entity_id")
        .where(F.col("a.url") < F.col("b.url"))
        .select(F.col("a.url").alias("l_id"), F.col("b.url").alias("r_id"))
    )
    n_true = true_pairs.count()
    n_hit = true_pairs.join(pairs, ["l_id", "r_id"], "left_semi").count()
    assert n_hit / n_true > 0.85


def test_adaptive_salt_invariance_mixed_sizes(spark):
    """Pair set identical whether blocks are below or above the salt
    threshold — salting is physical only (small blocks skip the grid)."""
    rows = [(f"h{i}", "hot") for i in range(40)] + [("c1", "cold"), ("c2", "cold")]
    keyed = spark.createDataFrame(rows, "id string, blk_key string")
    base = None
    for thr, k in [(1000, 1), (10, 4), (10, 16), (1, 8)]:
        pairs, _ = block_pairs(
            keyed, "id", salt_k=k, max_block_size=None, salt_threshold=thr
        )
        got = frozenset((r.l_id, r.r_id) for r in pairs.collect())
        if base is None:
            base = got
            assert len(base) == 40 * 39 // 2 + 1
        else:
            assert got == base, (thr, k)


def test_block_pairs_lr_two_datasets(spark):
    """Two-dataset linkage blocking: L x R within keys, no self-pairing,
    dedup across shared keys, salt-invariant."""
    from rlr_spark.operators.blocking import block_pairs_lr

    L = spark.createDataFrame(
        [("a1", "k1"), ("a2", "k1"), ("a3", "k2"), ("a4", "k9")],
        "l_id string, blk_key string",
    )
    R = spark.createDataFrame(
        # b1 carries k1 twice -> the (a1,b1)/(a2,b1) pairs must not duplicate
        [("b1", "k1"), ("b1", "k1"), ("b2", "k2"), ("b3", "k3")],
        "r_id string, blk_key string",
    )
    want = {("a1", "b1"), ("a2", "b1"), ("a3", "b2")}
    for k in (1, 4):
        pairs, stats = block_pairs_lr(L, R, salt_k=k)
        got = {(r.l_id, r.r_id) for r in pairs.collect()}
        assert got == want, k


def test_block_pairs_lr_lopsided_salting_invariance(spark):
    """A block hot on EITHER side triggers salting (the larger side is
    hash-salted, the smaller replicated); the pair set is invariant in
    (salt_k, salt_threshold) both when L is big and when R is big."""
    from rlr_spark.operators.blocking import block_pairs_lr

    big = [(f"b{i}", "k") for i in range(40)]
    small = [("s1", "k"), ("s2", "k")]
    for l_rows, r_rows in ((big, small), (small, big)):
        L = spark.createDataFrame(l_rows, "l_id string, blk_key string")
        R = spark.createDataFrame(r_rows, "r_id string, blk_key string")
        base = None
        for thr, k in [(1000, 1), (10, 4), (1, 8)]:
            pairs, _ = block_pairs_lr(L, R, salt_k=k, salt_threshold=thr)
            got = frozenset((r.l_id, r.r_id) for r in pairs.collect())
            if base is None:
                base = got
                assert len(base) == 80
            else:
                assert got == base, (thr, k, len(l_rows))


def test_block_pairs_lr_caps_and_logs(spark):
    from rlr_spark.operators.blocking import block_pairs_lr

    L = spark.createDataFrame(
        [(f"a{i}", "hot") for i in range(30)] + [("x", "cold")],
        "l_id string, blk_key string",
    )
    R = spark.createDataFrame(
        [("b1", "hot"), ("y", "cold")], "r_id string, blk_key string"
    )
    pairs, stats = block_pairs_lr(L, R, max_block_size=10)
    assert {(r.l_id, r.r_id) for r in pairs.collect()} == {("x", "y")}
    assert stats.n_dropped_blocks == 1


def test_block_pairs_carry_cols_and_pair_filter(spark):
    """carry_cols travel as l_<c>/r_<c> and pair_filter prunes inside
    the join; invariant under salting configs."""
    from pyspark.sql import functions as F

    from rlr_spark.operators.blocking import block_pairs

    rows = [(f"d{i}", "k", 10 + i) for i in range(6)]  # sizes 10..15
    keyed = spark.createDataFrame(rows, "id string, blk_key string, _n int")
    flt = F.least(F.col("l__n"), F.col("r__n")) * 10 >= F.greatest(
        F.col("l__n"), F.col("r__n")
    ) * 9  # keep pairs within 10% size of each other
    want = {
        (f"d{i}", f"d{j}")
        for i in range(6)
        for j in range(i + 1, 6)
        if 10 * min(10 + i, 10 + j) >= 9 * max(10 + i, 10 + j)
    }
    assert 0 < len(want) < 15  # the filter actually prunes something
    for k, thr in [(1, 1000), (4, 1)]:
        pairs, _ = block_pairs(
            keyed, "id", salt_k=k, salt_threshold=thr,
            carry_cols=("_n",), pair_filter=flt,
        )
        got = {(r.l_id, r.r_id) for r in pairs.collect()}
        assert got == want, (k, thr)


def test_lsh_band_keys_rebalance_flag(spark):
    """rebalance_input=False must not touch the input's partitioning."""
    from rlr_spark.operators.blocking import lsh_band_keys

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(10)], "id long, text string"
    ).coalesce(1)
    keys = lsh_band_keys(df, "id", "text", rebalance_input=False)
    assert keys.count() == 10 * 16  # one key per band per doc


def test_block_pairs_lr_carry_cols_and_pair_filter(spark):
    """LR form parity with the self-join: carried columns surface as
    l_/r_ and the filter prunes inside the join stage (the linkage
    similarity-join length filter)."""
    from pyspark.sql import functions as F

    from rlr_spark.operators.blocking import block_pairs_lr

    left = spark.createDataFrame(
        [("a1", "k", 10), ("a2", "k", 3)], "l_id string, blk_key string, n int"
    )
    right = spark.createDataFrame(
        [("b1", "k", 9), ("b2", "k", 2)], "r_id string, blk_key string, n int"
    )
    pairs, _ = block_pairs_lr(
        left,
        right,
        carry_cols=("n",),
        # PPJoin-style length filter: |shorter| >= 0.8 * |longer|
        pair_filter=(
            F.least("l_n", "r_n") >= F.lit(0.8) * F.greatest("l_n", "r_n")
        ),
        max_block_size=None,
    )
    got = {(r.l_id, r.r_id) for r in pairs.collect()}
    # (a1,b1): 9 >= 8 keep; (a2,b2): 2 >= 2.4 false drop;
    # cross pairs (10,2),(3,9) fail the ratio
    assert got == {("a1", "b1")}


def test_arrow_signature_bit_identical_to_fold(spark):
    """The numpy/Arrow minhash kernel must emit EXACTLY the fold path's
    rows — same hashes, not just same recall — across both LSH configs
    in use (3-shingle b16r3, word-level b32r2), the pipeline's form
    (b16r3 with a leading key as band −1 and ``_pfx`` witnesses) and
    the edge rows (short docs, single token, empty text, NULL text,
    whitespace, a NULL leading key)."""
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog", 7),
        ("b", "the quick brown fox jumps over the lazy cat", 7),
        ("c", "one two", 8),
        ("d", "single", 8),
        ("e", "", 9),
        ("f", None, 9),
        ("g", "  leading and trailing   spaces  here   ", None),
    ] + [
        # > TILE_ROWS rows in one partition so the kernel's zero-copy
        # cache-tiling slices (round 6) are exercised, including a NULL
        # and an empty doc landing mid-tile
        (f"x{i}", " ".join(f"tok{(i * 7 + t) % 50}" for t in range(40)), i % 13)
        for i in range(2600)
    ]
    rows[1500] = ("mid_null", None, 1)
    rows[2100] = ("mid_empty", "", 2)
    df = spark.createDataFrame(rows, "id string, text string, lk long").coalesce(1)

    def keys(impl, k, b, r, lead):
        out = lsh_band_keys(
            df, "id", "text", shingle_k=k, bands=b, rows_per_band=r,
            rebalance_input=False, signature_impl=impl,
            emit_prefixes=lead, lead_key=F.col("lk") if lead else None,
        )
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in row)
            for row in out.collect()
        }

    for k, b, r, lead in [(3, 16, 3, False), (1, 32, 2, False), (3, 16, 3, True)]:
        fold = keys("fold", k, b, r, lead)
        assert keys("arrow", k, b, r, lead) == fold, (k, b, r, lead)
        assert len(fold) == len(rows) * (b + lead)
    # the leading key's own row has no witness; every band row's
    # witness starts with it and grows by one key per band
    wits = {key: pfx for i, key, pfx in fold if i == "a"}
    assert wits[7] == ()
    assert sorted(len(p) for p in wits.values()) == list(range(17))
    assert all(p[0] == 7 for p in wits.values() if p)


def _union_dedup_pairs(pages, **kw):
    """The two-pass candidate set as built before the domain key joined
    the minhash kernel: domain keys ∪ band keys, every shared key
    emitting, one dropDuplicates."""
    domain = pages.select(
        "url",
        F.xxhash64(F.lit("domain"), normalized_domain(F.col("url"))).alias("blk_key"),
    )
    keyed = domain.unionByName(lsh_band_keys(pages, "url", "text"))
    return block_pairs(keyed, "url", pass_name="domain+lsh", **kw)


@pytest.mark.parametrize(
    "max_block_size,repair_cap",
    [(None, None), (6, None), (6, 2)],
    ids=["uncapped", "dropped_blocks_repaired", "past_repair_cap"],
)
def test_candidate_pairs_match_union_dedup(
    web_pages_small, monkeypatch, max_block_size, repair_cap
):
    """candidate_pairs emits each pair once from one keyed relation and
    returns exactly the pair set and stats of the union + dedup path:
    uncapped, with dropped blocks (witness repair), and with more
    dropped blocks than the repair inlines (the emit + dedup fallback)."""
    import rlr_spark.operators.blocking as blocking

    if repair_cap is not None:
        monkeypatch.setattr(blocking, "_MAX_REPAIR_KEYS", repair_cap)
    pages, _ = web_pages_small
    pairs, [stats] = candidate_pairs(pages, salt_k=2, max_block_size=max_block_size)
    rows = [(r.l_id, r.r_id) for r in pairs.collect()]
    ref, ref_stats = _union_dedup_pairs(pages, salt_k=2, max_block_size=max_block_size)
    assert stats == ref_stats
    if max_block_size is not None:
        assert stats.n_dropped_blocks > (repair_cap or 0)
    assert len(rows) == len(set(rows)), "candidate_pairs emitted a pair twice"
    assert set(rows) == {(r.l_id, r.r_id) for r in ref.collect()}


def test_xxh64_np_matches_spark(spark):
    """The numpy XXH64 primitives mirror catalyst bit-for-bit (the
    property the whole Arrow kernel rests on)."""
    import numpy as np

    from rlr_spark.functions.xxh64_np import (
        SPARK_SEED, hash_int, hash_long, xxhash64_longs,
    )

    vals = [0, 1, -1, 42, 2**62, -(2**62), 123456789123456789]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = df.select(
        "v",
        F.xxhash64("v").alias("h_long"),
        F.xxhash64("v", F.lit(7)).alias("h_chain"),
        F.xxhash64(F.array("v", F.col("v") + 1)).alias("h_arr"),
    ).collect()
    u = np.array(vals, dtype=np.int64).view(np.uint64)
    h_long = hash_long(u, SPARK_SEED).view(np.int64)
    h_chain = hash_int(7, hash_long(u, SPARK_SEED)).view(np.int64)
    h_arr = hash_long(
        (np.array(vals, dtype=np.int64) + 1).view(np.uint64),
        hash_long(u, SPARK_SEED),
    ).view(np.int64)
    for i, row in enumerate(rows):
        assert row.h_long == int(h_long[i])
        assert row.h_chain == int(h_chain[i])
        assert row.h_arr == int(h_arr[i])
    assert xxhash64_longs([5, 6, 7]) == spark.range(1).select(
        F.xxhash64(
            F.lit(5).cast("long"), F.lit(6).cast("long"), F.lit(7).cast("long")
        )
    ).collect()[0][0]


def test_block_pairs_lr_per_side_carry_cols(spark):
    """L and R with DIFFERENT schemas: carry L's name_len, R's
    company_len under their own names, filter on both inside the join."""
    from rlr_spark.operators.blocking import block_pairs_lr

    left = spark.createDataFrame(
        [("a1", "k", 10), ("a2", "k", 3)],
        "l_id string, blk_key string, name_len int",
    )
    right = spark.createDataFrame(
        [("b1", "k", 9), ("b2", "k", 2)],
        "r_id string, blk_key string, company_len int",
    )
    pairs, _ = block_pairs_lr(
        left,
        right,
        carry_cols_l=("name_len",),
        carry_cols_r=("company_len",),
        pair_filter=(
            F.least("l_name_len", "r_company_len")
            >= F.lit(0.8) * F.greatest("l_name_len", "r_company_len")
        ),
        max_block_size=None,
    )
    got = {(r.l_id, r.r_id) for r in pairs.collect()}
    assert got == {("a1", "b1")}


def test_emit_once_pair_set_matches_dedup_path(spark):
    """First-collision unique emission (emit_once_col, no pair dedup)
    returns exactly the pair set of the emit-everywhere + dropDuplicates
    path, with zero duplicate rows."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " + ("epsilon" if i % 7 else "zeta"))
         for i in range(60)],
        "doc_id long, text string",
    )
    keys = lsh_band_keys(
        docs, "doc_id", "text", shingle_k=1, bands=8, rows_per_band=2,
        emit_prefixes=True,
    )
    once, _ = block_pairs(
        keys, "doc_id", salt_k=4, max_block_size=None,
        emit_once_col="_pfx",
    )
    rows = [(r.l_id, r.r_id) for r in once.collect()]
    dedup, _ = block_pairs(
        keys.drop("_pfx"), "doc_id", salt_k=4, max_block_size=None,
    )
    want = {(r.l_id, r.r_id) for r in dedup.collect()}
    assert len(rows) == len(set(rows)), "emit-once produced duplicate pairs"
    assert set(rows) == want


def test_emit_once_repairs_dropped_blocks(spark):
    """A pair whose first colliding band was DROPPED by max_block_size
    must still be emitted from a later kept band (witness repair)."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(40)]
        + [(100, "unique one two three four"), (101, "unique one two three four")],
        "doc_id long, text string",
    )
    keys = lsh_band_keys(
        docs, "doc_id", "text", shingle_k=1, bands=8, rows_per_band=2,
        emit_prefixes=True,
    )
    # cap drops the 40-doc template blocks in every band; the pair
    # (100, 101) lives in 2-doc blocks and must survive
    once, stats = block_pairs(
        keys, "doc_id", salt_k=4, max_block_size=10,
        emit_once_col="_pfx",
    )
    rows = [(r.l_id, r.r_id) for r in once.collect()]
    ref, _ = block_pairs(keys.drop("_pfx"), "doc_id", salt_k=4, max_block_size=10)
    want = {(r.l_id, r.r_id) for r in ref.collect()}
    assert stats.n_dropped_blocks > 0
    assert len(rows) == len(set(rows))
    assert set(rows) == want
    assert (100, 101) in want


def test_emit_once_falls_back_past_repair_cap(spark):
    """More dropped blocks than the witness repair inlines: the emit-once
    call falls back to emit + dedup and matches the plain path's pair
    set and stats exactly."""
    hot = [(3 * k + i, k, []) for k in range(4097) for i in range(3)]
    # (0, 1) collides in two kept keys, the second naming the first as
    # its witness; (3, 4) names a dropped hot key as its witness
    small = [
        (0, 100_000, []), (1, 100_000, []),
        (0, 100_001, [100_000]), (1, 100_001, [100_000]),
        (3, 100_002, [1]), (4, 100_002, [1]),
        (6, 100_003, []), (9, 100_003, []),
    ]
    keyed = spark.createDataFrame(
        hot + small, "id long, blk_key long, _pfx array<long>"
    )
    once, once_stats = block_pairs(
        keyed, "id", salt_k=4, max_block_size=2, emit_once_col="_pfx"
    )
    rows = [(r.l_id, r.r_id) for r in once.collect()]
    plain, plain_stats = block_pairs(keyed.drop("_pfx"), "id", salt_k=4, max_block_size=2)
    assert plain_stats.n_dropped_blocks == 4097
    assert plain_stats.n_dropped_rows == 3 * 4097
    assert once_stats == plain_stats
    assert len(rows) == len(set(rows))
    assert set(rows) == {(r.l_id, r.r_id) for r in plain.collect()} == {
        (0, 1), (3, 4), (6, 9)
    }
