from pyspark.sql import functions as F

from rlr_spark.functions.dedup import (
    exact_dup_groups,
    minhash_dup_pairs,
    ngram_jaccard,
    simhash_dup_pairs,
    simhash64_udf,
)


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    near = base.replace("lazy", "sleepy")
    other = "completely unrelated text about spark query engines and shuffles " * 4
    return spark.createDataFrame(
        [
            (1, base),
            (2, base),          # exact dup of 1
            (3, near),          # near dup of 1
            (4, other),
            (5, other.upper()), # case-different (NOT an exact dup)
        ],
        "doc_id long, text string",
    )


def test_exact_dup_groups(spark):
    docs = _docs(spark)
    groups = {r.doc_id: (r.dup_group_min_id, r.group_size) for r in exact_dup_groups(docs).collect()}
    assert groups[1] == (1, 2) and groups[2] == (1, 2)
    assert groups[3][1] == 1
    assert groups[4][1] == 1 and groups[5][1] == 1


def test_minhash_dup_pairs(spark):
    got = {(r.l_id, r.r_id) for r in minhash_dup_pairs(_docs(spark), jaccard_threshold=0.7).collect()}
    assert (1, 2) in got
    assert (1, 3) in got and (2, 3) in got
    assert not any(4 in p or 5 in p for p in got if p != (4, 5))


def test_simhash_deterministic_and_dup_pairs(spark):
    docs = _docs(spark)
    h = {r.doc_id: r.h for r in docs.select("doc_id", simhash64_udf("text").alias("h")).collect()}
    assert h[1] == h[2]  # identical text, identical fingerprint
    assert h[1] != h[4]
    got = {(r.l_id, r.r_id): r.hamming for r in simhash_dup_pairs(docs, max_hamming=10).collect()}
    assert got[(1, 2)] == 0
    assert (1, 3) in got
    # case-only difference: simhash over lowered tokens -> distance 0
    assert got[(4, 5)] == 0


def test_ngram_jaccard(spark):
    df = spark.createDataFrame([("abcd", "abcd"), ("abcd", "zzzz")], "l string, r string")
    rows = df.select(ngram_jaccard(F.col("l"), F.col("r")).alias("j")).collect()
    assert rows[0].j == 1.0
    assert rows[1].j == 0.0


def test_minhash_recall_vs_bruteforce(spark, web_pages_small):
    """Cross-validate the LSH path against brute force: every emitted
    pair truly has jaccard >= threshold (precision 1.0 by construction),
    and recall vs the exhaustive pair set is high."""
    from rlr_spark.functions.similarity import token_jaccard

    pages, _ = web_pages_small
    docs = pages.select(F.col("url").alias("doc_id"), "text")

    got = {
        (r.l_id, r.r_id)
        for r in minhash_dup_pairs(
            docs, id_col="doc_id", jaccard_threshold=0.7, max_block_size=None
        ).collect()
    }

    a = docs.select(F.col("doc_id").alias("l_id"), F.col("text").alias("lt"))
    b = docs.select(F.col("doc_id").alias("r_id"), F.col("text").alias("rt"))
    brute = (
        a.crossJoin(b)
        .where(F.col("l_id") < F.col("r_id"))
        .withColumn("j", token_jaccard(F.col("lt"), F.col("rt")))
        .where(F.col("j") >= 0.7)
    )
    want = {(r.l_id, r.r_id) for r in brute.select("l_id", "r_id").collect()}

    assert got <= want  # no false positives (verified by true jaccard)
    assert len(want) > 30
    # DEFAULT parameters are word-level (shingle_k=1, b=32, r=2): the
    # banding hashes the same token-set similarity the verify filter
    # measures, so a default call recalls every pair the threshold
    # admits (collision prob at j=0.7 is 1-(1-0.49)^32 ~ 1-4e-10)
    assert got == want


def test_simhash_udf_matches_scalar_reference(spark):
    """The vectorized (unpackbits) simhash must equal the definitional
    per-bit majority vote computed scalar-side."""
    from rlr_spark.functions.dedup import _token_hash64

    def scalar_simhash(t: str) -> int:
        if not t:
            return 0
        toks = set(t.lower().split())
        if not toks:
            return 0
        acc = [0] * 64
        for tok in toks:
            h = _token_hash64(tok)
            for b in range(64):
                acc[b] += 1 if (h >> b) & 1 else -1
        bits = 0
        for b in range(64):
            if acc[b] > 0:
                bits |= 1 << b
        # reinterpret as signed 64-bit (Spark LongType)
        return bits - (1 << 64) if bits >= (1 << 63) else bits

    texts = [
        "the quick brown fox",
        "The QUICK brown fox",
        "completely different words here",
        "",
        "   ",
        "single",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got = {r.i: r.h for r in df.select("i", simhash64_udf("text").alias("h")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == scalar_simhash(t), (i, t)


def test_jaccard_prefix_join_exact_vs_bruteforce(spark, web_pages_small):
    """Prefix filtering is provably complete: the join output must EQUAL
    the exhaustive threshold join, pair for pair."""
    from rlr_spark.functions.dedup import jaccard_prefix_join
    from rlr_spark.functions.similarity import token_jaccard

    pages, _ = web_pages_small
    docs = pages.select(F.col("url").alias("doc_id"), "text")
    got = {
        (r.l_id, r.r_id)
        for r in jaccard_prefix_join(docs, id_col="doc_id", threshold=0.7).collect()
    }
    a = docs.select(F.col("doc_id").alias("l_id"), F.col("text").alias("lt"))
    b = docs.select(F.col("doc_id").alias("r_id"), F.col("text").alias("rt"))
    want = {
        (r.l_id, r.r_id)
        for r in a.crossJoin(b)
        .where(F.col("l_id") < F.col("r_id"))
        .withColumn("j", token_jaccard(F.col("lt"), F.col("rt")))
        .where(F.col("j") >= 0.7)
        .select("l_id", "r_id")
        .collect()
    }
    assert got == want
    assert len(want) > 30


def test_neardup_clusters_transitive_keep(spark):
    """A~B~C chain -> one cluster, min id kept; singleton keeps itself;
    integral ids take the dictionary-free CC path."""
    from rlr_spark.functions.dedup import neardup_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (10, base),
            (11, base + " lambda"),          # ~ 10 (10/11)
            (12, base + " lambda mu"),       # ~ 11 (11/12), ~10 only 10/12
            (20, "totally different words here entirely"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in neardup_clusters(docs, jaccard_threshold=0.85).collect()
    }
    assert out[10].cluster_id == out[11].cluster_id == out[12].cluster_id == 10
    assert out[10].keep and not out[11].keep and not out[12].keep
    assert out[20].cluster_id == 20 and out[20].keep
    # the kept set IS a valid dedup: one survivor per cluster
    assert sum(1 for r in out.values() if r.keep) == 2
