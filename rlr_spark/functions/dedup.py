"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash-LSH (reusing the blocking machinery),
SimHash (vectorized pandas UDF) and character-n-gram Jaccard. Each is
a DataFrame-in/DataFrame-out operator designed for the 100 TB case:
hash-partitioned groupBys, LSH banding to avoid all-pairs, and no
driver-side loops.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rlr_spark.functions.similarity import norm_tokens
from rlr_spark.operators.blocking import block_pairs, lsh_band_keys


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy
# ---------------------------------------------------------------------------

def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, text_md5, dup_group_min_id, group_size) for every row.

    One shuffle on the 32-hex md5 — never on the raw text (fat keys kill
    shuffle throughput at scale). Canonical representative = min id.
    """
    hashed = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_md5"))
    groups = hashed.groupBy("text_md5").agg(
        F.min(id_col).alias("dup_group_min_id"), F.count("*").alias("group_size")
    )
    return hashed.join(groups, "text_md5").select(
        id_col, "text_md5", "dup_group_min_id", "group_size"
    )


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup (reuses blocking.py's banded minhash)
# ---------------------------------------------------------------------------

def minhash_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 1,
    bands: int = 32,
    rows_per_band: int = 2,
    jaccard_threshold: float = 0.8,
    salt_k: int = 16,
    max_block_size: int | None = 10_000,
    length_filter: bool = True,
    verify_barrier: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs from LSH banding, verified by true token
    Jaccard ≥ threshold. Returns (l_id, r_id, jaccard).

    The defaults band on the SAME similarity the verify filter measures:
    ``shingle_k=1`` minhashes the token set itself (word-level minhash,
    the standard web-dedup setup), so the b=32, r=2 S-curve runs on
    token-Jaccard — collision probability at j=0.8 is 1-(1-0.64)^32
    ≈ 1-3e-15, i.e. recall ~1.0 against the stated threshold. Callers
    who band on k>1 shingles get SEQUENCE near-dup recall, which does
    NOT recall token-set-similar pairs (measurably: a corpus with 30k
    token-jac≥0.8 pairs had only 35 3-shingle near-dups) — if you raise
    ``shingle_k``, lower ``jaccard_threshold``'s meaning accordingly or
    verify with a sequence-aware metric downstream.

    Pairs are emitted from their FIRST colliding band only (band keys
    carry ``emit_prefixes`` witnesses, consumed by ``block_pairs``'s
    ``emit_once_col``), so no pair-dedup shuffle runs. Whether that pays
    depends on duplication density: each keyed row carries ~bands/2
    extra longs, and a pair colliding in m of the bands saves m-1
    duplicate emissions. True near-dups collide in ~b*j^r bands, so on
    a near-dup-heavy corpus it pays many times over (measured at sf0.1:
    the join's shuffle went 108M rows/849MB -> ~12M rows, wall -39%);
    on a corpus with almost no duplicates it is pure overhead."""
    keys = lsh_band_keys(
        df, id_col, text_col, shingle_k=shingle_k, bands=bands,
        rows_per_band=rows_per_band, emit_prefixes=True,
    )
    # Length filter INSIDE the join stage (the carry_cols/pair_filter
    # machinery): jaccard >= t forces |smaller| >= t * |larger| over the
    # distinct-token counts, so violating candidates are pruned BEFORE
    # they leave the join stage — provably recall-free. This is the load-
    # bearing guard on template-heavy corpora: the permissive r=2
    # banding (chosen for recall ~1.0 at the stated threshold) makes a
    # T-doc boilerplate cluster emit ~T^2/2 candidates per band
    # (measured: 5k docs -> 169M raw candidates, 12.4M distinct, 30k
    # true pairs; the filter cuts the join output by the ratio of
    # size-compatible candidates).
    if length_filter:
        sized = df.select(
            F.col(id_col), F.size(norm_tokens(F.col(text_col))).alias("_n")
        )
        keyed = keys.join(sized, id_col)
        carry: tuple[str, ...] = ("_n",)
        pfilter = (
            F.least("l__n", "r__n").cast("double")
            >= F.lit(jaccard_threshold) * F.greatest("l__n", "r__n").cast("double")
        )
    else:
        keyed, carry, pfilter = keys, (), None
    pairs, _ = block_pairs(
        keyed,
        id_col,
        salt_k=salt_k,
        max_block_size=max_block_size,
        pass_name="minhash",
        carry_cols=carry,
        pair_filter=pfilter,
        emit_once_col="_pfx",
    )
    return _verify_token_jaccard(
        pairs, df, id_col, text_col, jaccard_threshold, barrier=verify_barrier
    )


def neardup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    **minhash_kwargs,
) -> DataFrame:
    """The full dedup DECISION: which docs to keep. MinHash near-dup
    pairs -> connected components -> canonical (min-id) doc per
    duplicate cluster. Returns (id, cluster_id, keep): ``keep`` is True
    for exactly one doc per cluster (and for every singleton), so
    ``df.join(out.where("keep"), id_col, "left_semi")`` is the
    deduplicated corpus.

    Transitive closure is the standard web-dedup semantic (A~B, B~C =>
    one survivor among {A,B,C} even if A!~C). Scale: pair generation is
    the bounded LSH path (never all-pairs); CC runs on the pair set,
    which near-dup thresholds keep sparse relative to the corpus;
    integral ids make the CC node dictionary free (the id is the node).
    """
    from rlr_spark.operators.cluster import cluster_pairs

    pairs = minhash_dup_pairs(
        df, id_col, text_col, jaccard_threshold=jaccard_threshold, **minhash_kwargs
    ).select("l_id", "r_id")
    assign = cluster_pairs(
        pairs, df.select(id_col), id_col=id_col, entity_col="cluster_id"
    )
    return assign.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("entity_key")).alias("keep"),
    )


def _verify_token_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    barrier: bool = True,
) -> DataFrame:
    """Exact token-jaccard verification of candidate pairs, O(docs)
    tokenization: each doc is tokenized/hashed ONCE on the record side
    (sorted xxhash64 longs); the per-pair work is a single fixed-width
    array intersection, with |union| = |L| + |R| − |inter|. Tokenizing
    inside the pair expression would redo the split/distinct per
    candidate — |candidates|/|docs| times the work (a real 5-8x on the
    sf0.1 bench queries)."""
    from rlr_spark.functions.similarity import norm_tokens

    recs = df.select(
        F.col(id_col).alias("_rid"),
        F.array_sort(
            F.transform(norm_tokens(F.col(text_col)), lambda t: F.xxhash64(t))
        ).alias("_tk"),
    ).withColumn("_n", F.size("_tk"))
    lh = recs.select(
        F.col("_rid").alias("l_id"), F.col("_tk").alias("_lt"), F.col("_n").alias("_ln")
    )
    rh = recs.select(
        F.col("_rid").alias("r_id"), F.col("_tk").alias("_rt"), F.col("_n").alias("_rn")
    )
    inter = F.size(F.array_intersect(F.col("_lt"), F.col("_rt"))).cast("double")
    union = (F.col("_ln") + F.col("_rn")).cast("double") - inter
    # branch-free: the conditional form re-evaluates array_intersect per
    # branch reference (similarity.py token_jaccard note; measured 2.1x)
    jac = F.coalesce(F.try_divide(inter, union), F.lit(0.0))
    # checkpoint barrier between projection and threshold filter:
    # predicate pushdown would substitute jaccard's full expression into
    # the filter BELOW the projection, re-running array_intersect for
    # every surviving pair (projection re-eval after the pushed filter).
    # Materializing (l_id, r_id, jaccard) — 24 bytes/candidate, no token
    # arrays — makes the filter a column read; the intersect runs exactly
    # once per candidate.
    scored = (
        pairs.join(lh, "l_id")
        .join(rh, "r_id")
        .select("l_id", "r_id", jac.alias("jaccard"))
    )
    if barrier:
        scored = scored.localCheckpoint(eager=False)
    return scored.where(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash (64-bit) — vectorized pandas UDF
# ---------------------------------------------------------------------------

def _token_hash64(tok: str) -> int:
    """Deterministic 64-bit token hash (md5-derived — stable across
    workers/versions, unlike Python's salted hash())."""
    return int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big", signed=False)


@F.pandas_udf(T.LongType())
def simhash64_udf(text: pd.Series) -> pd.Series:
    """simhash64: sign-sum of the md5-derived token-hash bits.

    Vectorized: per doc, all token digests are unpacked to an
    (n_tokens, 64) bit matrix in one ``np.unpackbits`` and the 64 bit
    votes are a single column sum — the per-token-per-bit Python loop
    this replaces was a triple-nested interpreter loop inside the Arrow
    batch. Semantics identical: bit b set iff more than half the
    distinct tokens have bit b set in ``_token_hash64``.
    """
    out = np.zeros(len(text), dtype="uint64")
    md5 = hashlib.md5
    for i, t in enumerate(text):
        if not t:
            continue
        toks = set(t.lower().split())
        if not toks:
            continue
        # first 8 digest bytes per token, big-endian == _token_hash64
        raw = b"".join(md5(tok.encode("utf-8")).digest()[:8] for tok in toks)
        bit_mat = np.unpackbits(
            np.frombuffer(raw, dtype=np.uint8).reshape(-1, 8), axis=1, bitorder="big"
        )
        # column j holds bit (63 - j); majority vote per column
        votes = 2 * bit_mat.sum(axis=0, dtype=np.int64) - len(toks)
        packed = np.packbits((votes > 0).astype(np.uint8), bitorder="big")
        out[i] = int.from_bytes(packed.tobytes(), "big")
    return pd.Series(out.astype("int64"), index=text.index)


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_tables: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit fingerprint into
    ``n_tables`` 16-bit keys (a pair within Hamming distance
    ``n_tables - 1`` collides in ≥1 table by pigeonhole), then verify
    true Hamming distance ≤ max_hamming. Returns (l_id, r_id, hamming)."""
    # rebalance a narrow scan (simhash is the expensive step and a
    # single-row-group input would run it on one core), then
    # materialize: ``sh`` feeds the banding AND both verify sides —
    # without the barrier the pandas UDF runs three times.
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(par // 3, 4):
        df = df.repartition(par)
    sh = df.select(
        F.col(id_col), simhash64_udf(F.col(text_col)).alias("simhash")
    ).localCheckpoint(eager=False)
    width = 64 // n_tables
    keyed = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(t)),
                        F.shiftright(F.col("simhash"), t * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .cast("string"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("blk_key"),
    )
    pairs, _ = block_pairs(keyed.select(id_col, "blk_key"), id_col, pass_name="simhash")
    lh = sh.select(F.col(id_col).alias("l_id"), F.col("simhash").alias("_lh"))
    rh = sh.select(F.col(id_col).alias("r_id"), F.col("simhash").alias("_rh"))
    return (
        pairs.join(lh, "l_id")
        .join(rh, "r_id")
        .withColumn("hamming", F.bit_count(F.col("_lh").bitwiseXOR(F.col("_rh"))))
        .where(F.col("hamming") <= max_hamming)
        .select("l_id", "r_id", "hamming")
    )


# ---------------------------------------------------------------------------
# Exact Jaccard similarity self-join via prefix filtering (PPJoin family)
# ---------------------------------------------------------------------------

def jaccard_prefix_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    salt_k: int = 16,
    max_block_size: int | None = None,
) -> DataFrame:
    """EXACT token-Jaccard self-join: all pairs with jaccard >= threshold.

    Unlike MinHash-LSH (probabilistic recall), prefix filtering is
    provably complete: order each doc's distinct tokens by a global
    total order and key it on its first ``n - ceil(t*n) + 1`` tokens —
    any pair with jaccard >= t has intersection >= t*max(|x|,|y|), so
    the two prefixes must share a token (Chaudhuri et al. 2006 /
    Xiao et al. PPJoin 2008). Candidates then verify by true Jaccard.

    Global token order = ascending DOCUMENT FREQUENCY (ties by token
    hash) — the canonical PPJoin choice: prefixes then hold each doc's
    rarest tokens, so prefix-key blocks stay small even when the corpus
    shares a template vocabulary (a hash order would put "the" into 20%
    of prefixes and build quadratic hot blocks). Completeness holds for
    ANY total order, so the output is unchanged — only the candidate
    count. Costs one token-frequency aggregation + one per-doc regroup.
    Blocks stay salted/capped via
    :func:`~rlr_spark.operators.blocking.block_pairs`; with
    ``max_block_size`` set, drops are logged (a dropped hot token breaks
    the completeness guarantee, hence default None).
    """
    from rlr_spark.functions.similarity import norm_tokens

    doc_toks = df.select(
        F.col(id_col), F.explode(norm_tokens(F.col(text_col))).alias("_tok")
    )
    freq = doc_toks.groupBy("_tok").agg(F.count("*").alias("_df"))
    ordered = (
        doc_toks.join(freq, "_tok")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_df"), F.xxhash64("_tok").alias("_h"), F.col("_tok").alias("_t")
                    )
                )
            ).alias("_sorted")
        )
    )
    n = F.size(F.col("_sorted"))
    # epsilon guards the float ceil at rational boundaries (0.8*5 ==
    # 4.000000001 would shrink the prefix and silently lose recall; a
    # slightly LONGER prefix only adds candidates)
    plen = (n - F.ceil(F.lit(threshold) * n.cast("double") - F.lit(1e-9)) + 1).cast("int")
    keyed = (
        ordered.select(
            F.col(id_col),
            F.slice(F.col("_sorted"), 1, plen).alias("_prefix"),
            n.alias("_n"),
        )
        .select(F.col(id_col), F.explode("_prefix").alias("_p"), "_n")
        .select(F.col(id_col), F.col("_p._h").alias("blk_key"), "_n")
    )
    # PPJoin LENGTH filter, applied inside the join: jaccard >= t forces
    # |x∩y| >= t*|x∪y| >= t*max(|x|,|y|) and |x∩y| <= min(|x|,|y|), so
    # any true pair has min >= t*max. Pruning the rest inside the join
    # stage cuts the verify set without touching completeness.
    length_ok = F.least(F.col("l__n"), F.col("r__n")).cast("double") >= (
        F.lit(threshold) * F.greatest(F.col("l__n"), F.col("r__n")).cast("double")
        - F.lit(1e-9)
    )
    pairs, _ = block_pairs(
        keyed,
        id_col,
        salt_k=salt_k,
        max_block_size=max_block_size,
        pass_name="prefix",
        carry_cols=("_n",),
        pair_filter=length_ok,
    )
    return _verify_token_jaccard(pairs, df, id_col, text_col, threshold)


# ---------------------------------------------------------------------------
# Character n-gram Jaccard
# ---------------------------------------------------------------------------

def char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams of the lower-cased text."""
    t = F.lower(F.coalesce(text, F.lit("")))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(0))),
        lambda i: t.substr(i, F.lit(n)),
    )
    return F.array_distinct(grams)


def ngram_jaccard(l: Column, r: Column, n: int = 3) -> Column:
    lg, rg = char_ngrams(l, n), char_ngrams(r, n)
    union = F.size(F.array_union(lg, rg)).cast("double")
    inter = F.size(F.array_intersect(lg, rg)).cast("double")
    return F.coalesce(F.try_divide(inter, union), F.lit(0.0))
