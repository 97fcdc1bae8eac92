import math

import duckdb
from pyspark.sql import functions as F

from rlr_spark.functions.text import (
    bpe_ish_token_count,
    fingerprint,
    fingerprint_sql,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("a b  c", 3), ("", 0), ("  one  ", 1), (None, 0)], "t string, want int"
    )
    rows = df.select(token_count(F.col("t")).alias("n"), "want").collect()
    for r in rows:
        assert r.n == r.want


def test_bpe_ish_count(spark):
    df = spark.createDataFrame([("Hello, world! x2",)], "t string")
    # pieces: Hello , world ! x 2  -> 6
    assert df.select(bpe_ish_token_count(F.col("t")).alias("n")).collect()[0].n == 6


def test_punct_and_stopword_ratio(spark):
    df = spark.createDataFrame([("the cat!!",)], "t string")
    r = df.select(
        punct_ratio(F.col("t")).alias("p"), stopword_ratio(F.col("t")).alias("s")
    ).collect()[0]
    assert math.isclose(r.p, 2 / 8, abs_tol=1e-9)  # 2 '!' of 8 non-space chars
    assert math.isclose(r.s, 1 / 2, abs_tol=1e-9)  # 'the' of 2 tokens


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [("the quick brown fox is on the mat " * 10,), ("!!!! ???? ####",)],
        "t string",
    )
    rows = df.select(quality_score(F.col("t")).alias("q")).collect()
    good, bad = rows[0].q, rows[1].q
    assert 0.0 <= bad < good <= 1.0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog with this", "en"),
            ("und der hund das nicht gut", "de"),
            ("avec les amis pour dans paris", "fr"),
            ("zzz qqq", "en"),  # no markers -> default
        ],
        "t string, want string",
    )
    rows = df.select(lang_id(F.col("t")).alias("got"), "want").collect()
    for r in rows:
        assert r.got == r.want


def test_fingerprint_matches_duckdb_oracle(spark):
    texts = ["hello world", "", "a", "The quick brown fox! 123"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.fp for r in df.select(fingerprint(F.col("text")).alias("fp")).collect()]
    want = [
        duckdb.sql(f"SELECT {fingerprint_sql('text')} AS fp FROM (SELECT '{t}' AS text)")
        .fetchone()[0]
        for t in texts
    ]
    assert got == want
    # pure polynomial check on a known tiny case: h('ab') = (0*31+97)*31+98
    assert got[2] == ord("a")
    assert duckdb.sql(
        f"SELECT {fingerprint_sql('text')} FROM (SELECT 'ab' AS text)"
    ).fetchone()[0] == 97 * 31 + 98


def test_pii_counts(spark):
    from rlr_spark.functions.text import pii_counts

    df = spark.createDataFrame(
        [
            (1, "mail a.b-c%x@foo-bar.co.uk or x@y.io, call +1 555-123-4567"),
            (2, "server at 192.168.0.1 and 10.0.0.255"),
            (3, "clean text only"),
            (4, "bare form 555-123-4567 works too"),
        ],
        "id long, text string",
    )
    p = pii_counts(F.col("text"))
    rows = {
        r.id: r
        for r in df.select("id", *[c.alias(n) for n, c in p.items()]).collect()
    }
    assert rows[1].n_emails == 2 and rows[1].n_phones == 1 and rows[1].has_pii
    assert rows[2].n_ipv4 == 2
    assert rows[3].has_pii is False
    # country code optional: the bare NANP form counts
    assert rows[4].n_phones == 1


def test_repetition_stats_newline_corpus(spark):
    from rlr_spark.functions.text import repetition_stats

    docs = spark.createDataFrame(
        [
            # 3 lines of 5 chars, 'aa bb' repeated: dup lines 2/3;
            # dup chars 10/15; paragraphs distinct
            (1, "aa bb\ncc dd\n\naa bb"),
            # heavy 2-gram repetition: 'x y x y x y' -> top 2-gram
            # 'x y' count 3, 6 tokens -> mass 1.0
            (2, "x y x y x y"),
            # all unique, no letters in '42'
            (3, "one 42 three"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in repetition_stats(
            docs, line_sep=r"\n", para_sep=r"\n\n"
        ).collect()
    }
    r1 = out[1]
    assert r1.n_lines == 3
    assert r1.dup_line_frac == round(2 / 3, 6)
    assert r1.dup_line_char_frac == round(10 / 15, 6)
    assert r1.dup_para_frac == 0.0
    r2 = out[2]
    assert r2.top2gram_count == 3 and r2.top2gram_mass == 1.0
    assert r2.dup_line_frac == 0.0  # one line only
    r3 = out[3]
    assert r3.frac_alpha_tokens == round(2 / 3, 6)
    assert r3.top2gram_count == 1
    r4 = out[4]
    assert r4.n_lines == 0 and r4.dup_line_frac == 0.0
    assert r4.top2gram_count == 0 and r4.top2gram_mass == 0.0


def test_bigram_logprob(spark):
    """Hand-computed interpolated bigram log-probs on corpus
    'a b' + 'a b a' + 'solo': bigrams ab(x2), ba(x1); c(a,.)=2,
    c(b,.)=1; the unigram backoff runs over ALL non-empty docs
    (including the 1-token one): N=6, p(a)=3/6, p(b)=2/6.  With
    lam=0.7: p(b|a)=0.7*2/2+0.3*2/6, p(a|b)=0.7*1/1+0.3*3/6."""
    import math

    from rlr_spark.functions.text import bigram_logprob

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b a"), (3, "solo"), (4, " ")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in bigram_logprob(df, lam=0.7).collect()}
    assert set(got) == {1, 2}  # <2-token docs excluded
    p_ba = 0.7 * 2 / 2 + 0.3 * 2 / 6  # p(b|a)
    p_ab = 0.7 * 1 / 1 + 0.3 * 3 / 6  # p(a|b)
    assert got[1].n_bigrams == 1
    assert abs(got[1].avg_logprob2 - round(math.log(p_ba), 6)) < 1e-9
    assert got[2].n_bigrams == 2
    exp2 = (math.log(p_ba) + math.log(p_ab)) / 2
    assert abs(got[2].avg_logprob2 - round(exp2, 6)) < 1e-9


def test_bigram_logprob_separates_shuffled_text(spark):
    """The motivating property: a doc whose tokens are corpus-typical
    but order-scrambled (the same token multiset, which a unigram model
    scores identically) scores LOWER under the bigram model than the
    fluent original."""
    from rlr_spark.functions.text import bigram_logprob

    fluent = "the quick brown fox jumps over the lazy dog"
    rows = [(i, fluent) for i in range(1, 9)]
    rows.append((9, "dog the lazy jumps fox over brown the quick"))  # shuffled
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bi = {r.doc_id: r.avg_logprob2 for r in bigram_logprob(df).collect()}
    assert bi[9] < bi[1] - 0.5  # bigram: scrambled order clearly worse


def test_pack_offsets_concat_and_chunk(spark):
    """Single shard (n_shards=1): docs concatenate in id order; a doc
    crossing the ctx_len boundary spans two sequences; an empty doc
    consumes no stream space and keeps a well-formed (first==last) span."""
    from rlr_spark.functions.packing import pack_offsets

    rows = [
        (1, "t " * 300),   # 300 tokens -> [0, 300): seq 0
        (2, "t " * 300),   # [300, 600): crosses 512 -> seqs 0..1
        (3, ""),           # empty at offset 600: seq 1..1, 0 tokens
        (4, "t " * 100),   # [600, 700): seq 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pack_offsets(df, ctx_len=512, n_shards=1).collect()}
    assert [got[i].start_off for i in (1, 2, 3, 4)] == [0, 300, 600, 600]
    assert (got[1].first_seq, got[1].last_seq) == (0, 0)
    assert (got[2].first_seq, got[2].last_seq) == (0, 1)  # boundary-spanning
    assert (got[3].first_seq, got[3].last_seq) == (1, 1) and got[3].n_tokens == 0
    assert (got[4].first_seq, got[4].last_seq) == (1, 1)
    assert all(got[i].shard == 0 for i in (1, 2, 3, 4))


def test_pack_offsets_sharding_is_deterministic(spark):
    """Shards partition the corpus; within every shard offsets are a
    gapless prefix-sum of token counts in id order."""
    from rlr_spark.functions.packing import pack_offsets

    rows = [(i, "w " * (i % 7 + 1)) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_offsets(df, ctx_len=16, n_shards=4).collect()
    assert len(out) == 40 and {r.shard for r in out} <= set(range(4))
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for rs in by_shard.values():
        rs.sort(key=lambda r: r.doc_id)
        off = 0
        for r in rs:
            assert r.start_off == off
            off += r.n_tokens


def test_chunk_documents(spark):
    """Overlapping token windows: stride grid, short tail, single-chunk
    and empty docs."""
    from rlr_spark.functions.text import chunk_documents

    toks = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, toks), (2, "a b"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts 0,3,6,9 -> 4 chunks; last is the 1-token tail
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.chunk_idx for r in c1] == [0, 1, 2, 3]
    assert c1[0].chunk_text == "t0 t1 t2 t3" and c1[0].n_tokens == 4
    assert c1[1].chunk_text == "t3 t4 t5 t6"  # stride-3 overlap
    assert c1[3].chunk_text == "t9" and c1[3].n_tokens == 1
    # doc 2 fits in one chunk; empty/whitespace docs produce none
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "a b"
    assert 3 not in by_doc and 4 not in by_doc
    # no shuffle anywhere in the plan
    from rlr_spark.plans.inspect import physical_plan

    assert "Exchange" not in physical_plan(chunk_documents(df))


def test_perplexity_buckets_tercile_shape(spark):
    """Repetitive docs land in head (our bigram LM loves determinism);
    each tercile is nonempty and ordered by score."""
    from rlr_spark.functions.text import perplexity_buckets

    rows = []
    for i in range(12):
        if i % 3 == 0:
            rows.append((i, "a b a b a b a b a b"))       # very predictable
        elif i % 3 == 1:
            rows.append((i, f"a b c d e f g h i{i} j{i}"))  # mixed
        else:
            rows.append((i, f"q{i} w{i} e{i} r{i} t{i} y{i}"))  # unique bigrams
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = perplexity_buckets(df).collect()
    assert len(out) == 12
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.bucket, []).append(r.avg_logprob2)
    assert set(by_bucket) == {"head", "middle", "tail"}
    assert min(by_bucket["head"]) >= max(by_bucket["middle"])
    assert min(by_bucket["middle"]) >= max(by_bucket["tail"])
