"""Text-analysis column functions for large-scale corpus pipelines.

All pure column expressions (JVM-side, whole-stage codegen) — language-ID
heuristic, quality scoring, token counting, and document fingerprinting.
Designed so each has an exactly-equivalent ANSI-SQL form for the DuckDB
oracle (no floating hash libraries, no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small marker-stopword lists per language (public common words). The
# heuristic is deliberately tiny: count marker hits per language, argmax.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "with", "from", "this"],
    "de": ["und", "der", "die", "das", "nicht"],
    "fr": ["les", "des", "avec", "pour", "dans"],
    "es": ["los", "las", "por", "para", "como"],
}

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for",
    "with", "at", "by", "from", "is", "are", "was", "this", "that", "it",
]

#: BPE-ish pre-tokenizer: word pieces or single non-space symbols — the
#: usual GPT-2-style pre-split shape, as a plain regex.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    t = F.trim(text)
    return F.when(
        t.isNull() | (t == ""), F.array().cast("array<string>")
    ).otherwise(F.split(t, r"\s+"))


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokenizer pieces (regexp_extract_all based)."""
    return F.size(F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit(BPE_ISH_PATTERN), F.lit(0)))


def punct_ratio(text: Column) -> Column:
    """Fraction of non-space characters that are not alphanumeric."""
    t = F.coalesce(text, F.lit(""))
    nonspace = F.length(F.regexp_replace(t, r"\s", ""))
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    return F.when(nonspace == 0, F.lit(0.0)).otherwise(
        punct.cast("double") / nonspace.cast("double")
    )


def _count_in(toks: Column, words: list[str]) -> Column:
    # single-arg lambda on purpose: F.filter feeds the array index to a
    # second parameter, which is never what a membership test wants
    arr = F.array(*[F.lit(w) for w in words])

    def member(x: Column) -> Column:
        return F.array_contains(arr, x)

    return F.size(F.filter(toks, member))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of whitespace tokens that are (lower-cased) stopwords."""
    toks = tokens(F.lower(text))
    hits = _count_in(toks, stopwords or EN_STOPWORDS)
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(hits.cast("double") / n.cast("double"))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: reasonable length, low punct
    noise, some stopword mass (English-biased, as in public web-corpus
    filters — length/punct/stopword ratios)."""
    n = token_count(text).cast("double")
    len_term = F.least(n / F.lit(50.0), F.lit(1.0))  # saturates at 50 tokens
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    return F.round((len_term + punct_term + stop_term) / 3, 6)


def lang_scores(text: Column) -> dict[str, Column]:
    toks = tokens(F.lower(text))
    return {lang: _count_in(toks, markers) for lang, markers in LANG_MARKERS.items()}


def lang_id(text: Column, default: str = "en") -> Column:
    """Argmax of marker-hit counts; ties broken by language-code order —
    deterministic and SQL-expressible (a chain of CASE WHEN)."""
    scores = lang_scores(text)
    langs = sorted(scores)  # deterministic tie-break: alphabetical
    best_lang = F.lit(default)
    best_score = F.lit(0)
    for lang in langs:
        s = scores[lang]
        cond = s > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, s).otherwise(best_score)
    return best_lang


_FP_MOD = 1_000_000_007
_FP_BASE = 31


def fingerprint(text: Column) -> Column:
    """Polynomial rolling hash over the document's characters,
    ``h = (h*31 + ascii(ch)) mod 1e9+7`` — a deterministic
    SQL-expressible document fingerprint (same formula runs in DuckDB
    via list_reduce for the oracle). Intermediate stays < 2^63 so ANSI
    mode never overflows."""
    t = F.coalesce(text, F.lit(""))
    return F.aggregate(
        F.sequence(F.lit(1), F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, i: F.pmod(acc * _FP_BASE + F.ascii(F.substring(t, i, 1)), F.lit(_FP_MOD)),
    )


# PII patterns: kept to syntax valid AND equivalent in both Java regex
# (Spark) and RE2 (DuckDB oracle) — char classes, bounded repeats, no
# lookarounds. Deliberately high-precision/simple; a production scrub
# would layer more patterns, the plumbing is identical.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# country code optional: bare NANP "555-123-4567" (the most common
# written form) must count as a phone number too
PHONE_RE = r"(\+?[0-9]{1,2}[ -])?[0-9]{3}-[0-9]{3}-[0-9]{4}"
IPV4_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-doc PII hit counts: emails, phone numbers, IPv4 addresses,
    plus an aggregate ``has_pii`` flag. Pure regexp column ops."""
    t = F.coalesce(text, F.lit(""))
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), F.lit(0)))
    return {
        "n_emails": n_emails,
        "n_phones": n_phones,
        "n_ipv4": n_ipv4,
        "has_pii": (n_emails + n_phones + n_ipv4) > 0,
    }


def repetition_stats(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = r"\n",
    para_sep: str | None = None,
):
    """Gopher-style repetition filters, per document.

    Returns (id, n_lines, dup_line_frac, dup_line_char_frac,
    [dup_para_frac,] frac_alpha_tokens, top2gram_count, top2gram_mass):

    - ``dup_line_frac`` — fraction of ``line_sep``-separated segments
      that are exact duplicates of ANOTHER segment in the same doc
      (all occurrences of a repeated segment count, per the published
      definition: 3 lines ``a,b,a`` -> 2/3);
    - ``dup_line_char_frac`` — fraction of segment CHARACTERS that sit
      in duplicated segments (the published filters threshold both);
    - ``dup_para_frac`` — same over ``para_sep`` (only when given);
    - ``top2gram_mass`` — fraction of tokens covered by the most
      frequent token 2-gram (``2 * count(top 2-gram) / n_tokens``);
    - ``frac_alpha_tokens`` — fraction of tokens containing a letter.

    ``line_sep``/``para_sep`` are regexes; a corpus without newlines can
    pass ``line_sep=r"\\s+"`` to get the token-level degenerate
    (duplicate-token fraction), which is still a useful repetition
    signal.

    Scale: the line metrics are pure per-row array expressions (the
    duplicated-chars term is O(L^2) in a doc's SEGMENT count — tens to
    hundreds — not its length); the top-2-gram term is an
    explode + groupBy on (id, gram), a fine-grained evenly-keyed
    shuffle. No all-pairs anything.
    """
    text = F.col(text_col)
    t = F.trim(F.coalesce(text, F.lit("")))

    def segments(sep: str) -> Column:
        raw = F.when(t == "", F.array().cast("array<string>")).otherwise(
            F.split(t, sep)
        )
        return F.filter(raw, lambda x: x != "")

    # STAGED projections (gotcha: Catalyst does no CSE across output
    # columns, and CollapseProject keeps a lower alias materialized when
    # the upper project references it more than once): stage 1 splits
    # each separator ONCE; stage 2 runs the O(|distinct|*|segs|)
    # occurrence scan ONCE per segment kind as (count, length) structs;
    # stage 3's aggregates then fold over the materialized arrays.
    stage1 = [F.col(id_col), segments(line_sep).alias("_segs_line"),
              tokens(text).alias("_tk")]
    if para_sep is not None:
        stage1.append(segments(para_sep).alias("_segs_para"))
    staged = df.select(*stage1)

    def occ_counts(segs_name: str) -> Column:
        segs = F.col(segs_name)
        return F.transform(
            F.array_distinct(segs),
            lambda d: F.struct(
                F.size(F.filter(segs, lambda s: s == d)).alias("c"),
                F.length(d).alias("l"),
            ),
        )

    stage2 = [F.col(id_col), F.col("_segs_line"), F.col("_tk"),
              occ_counts("_segs_line").alias("_cnt_line")]
    if para_sep is not None:
        stage2 += [F.col("_segs_para"), occ_counts("_segs_para").alias("_cnt_para")]
    staged = staged.select(*stage2)

    def seg_stats(segs_name: str, cnt_name: str, prefix: str) -> list[Column]:
        segs, cnt = F.col(segs_name), F.col(cnt_name)
        n = F.size(segs)
        # every occurrence of a segment appearing >1 times is a
        # duplicate (a,b,a -> 2 duplicate lines, not 1)
        n_dup = F.aggregate(
            cnt, F.lit(0),
            lambda acc, e: acc + F.when(e["c"] > 1, e["c"]).otherwise(F.lit(0)),
        )
        frac = F.when(n == 0, F.lit(0.0)).otherwise(
            n_dup.cast("double") / n.cast("double")
        )
        total_chars = F.aggregate(
            segs, F.lit(0).cast("long"), lambda acc, s: acc + F.length(s)
        )
        dup_chars = F.aggregate(
            cnt, F.lit(0).cast("long"),
            lambda acc, e: acc
            + F.when(
                e["c"] > 1, e["c"].cast("long") * e["l"].cast("long")
            ).otherwise(F.lit(0)),
        )
        char_frac = F.when(total_chars == 0, F.lit(0.0)).otherwise(
            dup_chars.cast("double") / total_chars.cast("double")
        )
        out = [F.round(frac, 6).alias(f"{prefix}_frac")]
        if prefix == "dup_line":
            out.append(F.round(char_frac, 6).alias("dup_line_char_frac"))
        return out

    n_tok = F.size(F.col("_tk"))
    frac_alpha = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(F.col("_tk"), lambda x: x.rlike("[A-Za-z]"))).cast("double")
        / n_tok.cast("double")
    )
    cols = [
        F.col(id_col),
        F.size(F.col("_segs_line")).alias("n_lines"),
        *seg_stats("_segs_line", "_cnt_line", "dup_line"),
        *(
            seg_stats("_segs_para", "_cnt_para", "dup_para")
            if para_sep is not None
            else []
        ),
        n_tok.alias("_n_tok"),
        F.round(frac_alpha, 6).alias("frac_alpha_tokens"),
    ]
    base = staged.select(*cols)

    # F.sequence(1, 0) is a DESCENDING [1, 0], not empty — guard <2 tokens
    toks = tokens(text)  # the explode branch runs over df, not staged
    g2_idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    grams2 = F.transform(g2_idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 2)))
    top2 = (
        df.select(F.col(id_col), F.explode(grams2).alias("_g2"))
        .groupBy(id_col, "_g2")
        .agg(F.count("*").alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("top2gram_count"))
    )
    out = base.join(top2, id_col, "left")
    mass = F.when(
        (F.col("_n_tok") == 0) | F.col("top2gram_count").isNull(), F.lit(0.0)
    ).otherwise(
        F.lit(2.0) * F.col("top2gram_count").cast("double") / F.col("_n_tok").cast("double")
    )
    return out.select(
        *[c for c in out.columns if c not in ("_n_tok", "top2gram_count")],
        F.coalesce(F.col("top2gram_count"), F.lit(0)).cast("long").alias("top2gram_count"),
        F.round(mass, 6).alias("top2gram_mass"),
    )


def bigram_logprob(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
):
    """Per-document average bigram log-probability under an
    interpolated corpus bigram model, backed off to the corpus unigram
    distribution: ``p(b|a) = lam * c(a,b)/c(a,·) + (1-lam) *
    n_occ(b)/N``. Token order matters, so shuffled boilerplate and
    gibberish with corpus-typical vocabulary (which a unigram LM scores
    identically to fluent text) separate out.

    Returns (id, n_bigrams, avg_logprob2) over docs with >= 2 tokens,
    ``avg_logprob2 = sum(cnt_ab * ln(p(b|a))) / n_bigrams`` over the
    doc's distinct bigrams. The context count ``c(a,·)`` is derived
    from the bigram relation itself (sum over b), so every scored
    bigram has a strictly positive backbone probability and the
    interpolation never needs an OOV branch.

    Scale: one explode at 2-gram granularity — distinct (doc,a,b)
    pre-collapse before the probability joins, all groupBys/joins on
    evenly-hashed token keys, corpus totals as 1-row broadcasts. The
    bigram vocab is larger than unigram (~10x at web scale) but the
    relation stays O(corpus tokens) and AQE's skew split covers the
    Zipf head.
    """
    t = F.trim(F.lower(F.col(text_col)))
    d = df.where(t != "").select(F.col(id_col), F.split(t, r"\s+").alias("ts"))
    bg = d.where(F.size("ts") >= 2).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("ts"), i).alias("a"),
                    F.element_at(F.col("ts"), i + 1).alias("b"),
                ),
            )
        ).alias("_bg"),
    ).select(id_col, F.col("_bg.a").alias("a"), F.col("_bg.b").alias("b"))
    # distinct (doc, a, b) with in-doc multiplicity — the join shuffle
    # runs on the collapsed relation, not raw positions
    dbt = bg.groupBy(id_col, "a", "b").agg(F.count("*").alias("cnt"))
    dbt = dbt.localCheckpoint(eager=False)  # consumed by c2/c1 and the join
    c2 = dbt.groupBy("a", "b").agg(F.sum("cnt").alias("c_ab"))
    c1 = c2.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    # unigram backoff distribution over ALL tokens (incl. doc-final)
    tok = d.select(F.col(id_col), F.explode("ts").alias("tok"))
    occ = tok.groupBy("tok").agg(F.count("*").alias("n_occ"))
    total = occ.agg(F.sum("n_occ").alias("N"))
    p = (
        F.lit(lam) * F.col("c_ab").cast("double") / F.col("c_a").cast("double")
        + (F.lit(1.0) - F.lit(lam))
        * F.col("n_occ").cast("double")
        / F.col("N").cast("double")
    )
    return (
        dbt.join(c2, ["a", "b"])
        .join(c1, "a")
        .join(occ.withColumnRenamed("tok", "b"), "b")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("cnt").cast("double") * F.log(p))
                / F.sum("cnt").cast("double"),
                6,
            ).alias("avg_logprob2"),
        )
    )


def perplexity_buckets(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
):
    """CCNet-style quality bucketing: head / middle / tail terciles of
    the corpus by LM score (Wenzek et al. 2020, "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data").

    CCNet scores each paragraph with a pretrained KenLM and keeps the
    corpus split into perplexity terciles — *head* (most fluent) is
    the premium training slice. Here the scorer is the repo's own
    interpolated bigram LM (:func:`bigram_logprob`; higher avg
    log-prob = lower perplexity = better), and the tercile thresholds
    are exact ``percentile`` aggregates broadcast back over the
    corpus — one 1-row broadcast join instead of a global-sort ntile,
    so the plan has no single-partition window and scales like any
    other aggregate. Thresholds compare on the ROUNDED score so the
    bucketing is engine-reproducible (the DuckDB oracle rebuilds the
    identical buckets).

    Output: (id, n_bigrams, avg_logprob2, bucket∈{head,middle,tail}).
    """
    lp = bigram_logprob(df, id_col, text_col, lam)
    th = lp.agg(
        F.percentile("avg_logprob2", 1.0 / 3).alias("t_lo"),
        F.percentile("avg_logprob2", 2.0 / 3).alias("t_hi"),
    )
    return lp.crossJoin(F.broadcast(th)).select(
        id_col,
        "n_bigrams",
        "avg_logprob2",
        F.when(F.col("avg_logprob2") >= F.col("t_hi"), F.lit("head"))
        .when(F.col("avg_logprob2") >= F.col("t_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def fingerprint_sql(col: str = "text") -> str:
    """The DuckDB-equivalent expression for :func:`fingerprint`."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length({col})+1), "
        f"i -> ascii(substr({col}, i::INTEGER, 1)))), "
        f"(acc, ch) -> (acc * {_FP_BASE} + ch) % {_FP_MOD})"
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-size token windows with overlap — the chunking step every
    training-data / retrieval pipeline runs before embedding or packing.

    One chunk per window start ``0, stride, 2*stride, ...`` while the
    start is inside the document; each chunk is ``chunk_tokens`` tokens
    (the last may be shorter). Returns (id, chunk_idx, n_tokens,
    chunk_text). Empty documents produce no chunks.

    Pure column ops, no UDF: the document is tokenized ONCE behind a
    select boundary (Catalyst does not CSE across output columns —
    same staging rationale as blocking.py's signatures), window starts
    come from ``sequence``, and each chunk is a ``slice`` +
    ``concat_ws``. Narrow until the explode; at 100 TB the fan-out is
    ~(n_tokens/stride)x rows with NO shuffle anywhere — chunking
    stays embarrassingly parallel over scan partitions, and Spark can
    re-split the exploded output by size downstream.
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    t = F.trim(F.col(text_col))
    toked = df.where(t != "").select(
        F.col(id_col), F.split(t, r"\s+").alias("_t")
    )
    n = F.size(F.col("_t"))
    last_start = (F.floor((n - 1) / stride) * stride).cast("int")
    exploded = toked.select(
        F.col(id_col),
        F.col("_t"),
        F.posexplode(F.sequence(F.lit(0), last_start, F.lit(stride))).alias(
            "chunk_idx", "_s"
        ),
    )
    piece = F.slice(F.col("_t"), F.col("_s") + 1, chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )
