"""Per-pair field comparison: C1 exact-match bits + C2 similarity vectors.

The var-group schema ``[{name, lvars, rvars}]`` is the reference's
comparison-vector definition (backend/rlr.py:231-260): one vector slot
per group, possibly asymmetric column lists per side. The exact-match
bit reproduces the reference's only comparator — strip → lower → concat
→ equality (pages/02_Linkage_Review.py:137-143), with missing values
rendered the way pandas ``str()`` renders them (``"nan"``) so the bit is
parity-testable against the reference class run on the same rows.

Similarity metrics (north-rule C2): token-Jaccard and Levenshtein are
pure column expressions (JVM, codegen); Jaro-Winkler is a batched Arrow
pandas UDF (functions/similarity.py).

Joins: pairs ⋈ L ⋈ R replaces the reference's per-pair ``.loc`` point
lookups (rlr.py:317,322 — the row-at-a-time form of a hash join,
SURVEY.md J1). The record side is keyed and shuffled once per side;
broadcast when it fits, AQE handles residual skew. The web-pages fast
path (:func:`text_pair_similarity`) joins one record relation on both
sides, so both joins share one records exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rlr_spark.functions.similarity import jaro_winkler, levenshtein_sim, token_jaccard

#: rendering of a missing value inside the normalized concat — pandas
#: ``str(np.nan)`` == "nan" (reference renders values via str(),
#: pages/02:139-140), so parity demands the same token.
_NAN_TOKEN = "nan"
#: a value whose record id was not found (rlr.py:335-336: ``dict.get(var,
#: "no data found")`` over an empty record dict)
_NO_DATA_TOKEN = "no data found"


def _group_concat(cols: list[str], prefix: str) -> Column:
    """strip→lower→concat of a group's columns, null -> 'nan'."""
    parts = [
        F.lower(F.trim(F.coalesce(F.col(prefix + c).cast("string"), F.lit(_NAN_TOKEN))))
        for c in cols
    ]
    return F.concat(*parts)


def exact_match_bit(l_concat: Column, r_concat: Column) -> Column:
    return (l_concat == r_concat).cast("double")


METRICS = ("exact", "jaccard", "levenshtein", "jaro_winkler")


def comparison_vectors(
    pairs: DataFrame,
    data_l: DataFrame,
    data_r: DataFrame,
    id_l: str,
    id_r: str,
    var_schema: list[dict],
    metrics: tuple[str, ...] = METRICS,
    broadcast_records: bool = False,
) -> DataFrame:
    """pairs(l_id, r_id, ...) -> + per-group metric columns + comparison_vector.

    Output columns: ``cmp_<group>_<metric>`` double per group×metric, and
    ``comparison_vector`` array<double> in var-schema group order using
    the *first* metric listed (the reference's single agreement bit when
    ``metrics[0] == 'exact'``, FIXTURES.md F4).
    """
    needed_l = sorted({c for g in var_schema for c in g["lvars"]} | {id_l})
    needed_r = sorted({c for g in var_schema for c in g["rvars"]} | {id_r})
    lh = data_l.select([F.col(c).alias("_l_" + c) for c in needed_l])
    rh = data_r.select([F.col(c).alias("_r_" + c) for c in needed_r])
    if broadcast_records:
        lh, rh = F.broadcast(lh), F.broadcast(rh)

    joined = pairs.join(lh, pairs["l_id"] == lh["_l_" + id_l], "left").join(
        rh, pairs["r_id"] == rh["_r_" + id_r], "left"
    )

    out_cols: list[Column] = []
    vector_slots: list[Column] = []
    for g in var_schema:
        name = g["name"].lower().replace(" ", "_")
        lc = _group_concat(g["lvars"], "_l_")
        rc = _group_concat(g["rvars"], "_r_")
        per_metric: dict[str, Column] = {}
        if "exact" in metrics:
            per_metric["exact"] = exact_match_bit(lc, rc)
        if "jaccard" in metrics:
            # jaccard over space-joined group text (token-level)
            lj = F.concat_ws(" ", *[F.col("_l_" + c).cast("string") for c in g["lvars"]])
            rj = F.concat_ws(" ", *[F.col("_r_" + c).cast("string") for c in g["rvars"]])
            per_metric["jaccard"] = token_jaccard(lj, rj)
        if "levenshtein" in metrics:
            per_metric["levenshtein"] = levenshtein_sim(lc, rc)
        if "jaro_winkler" in metrics:
            per_metric["jaro_winkler"] = jaro_winkler(lc, rc)
        for m, col in per_metric.items():
            out_cols.append(col.alias(f"cmp_{name}_{m}"))
        vector_slots.append(per_metric[metrics[0]])

    return joined.select(
        *[pairs[c] for c in pairs.columns],
        *out_cols,
        F.array(*vector_slots).alias("comparison_vector"),
    )


def grouped_projection(
    pairs: DataFrame,
    data_l: DataFrame,
    data_r: DataFrame,
    id_l: str | list[str],
    id_r: str | list[str],
    var_schema: list[dict],
    l_pair_col: str | list[str] = "l_id",
    r_pair_col: str | list[str] = "r_id",
) -> DataFrame:
    """J2: reshape joined pair rows into var-schema groups (rlr.py:327-337).

    Adds ``grp_<name>_lvals`` / ``grp_<name>_rvals`` array<string> columns;
    a value missing because the id wasn't found renders as the reference's
    ``"no data found"`` sentinel (rlr.py:335-336: ``dict.get(var, "no data
    found")`` over an empty record dict). Ids may be composite (lists,
    rlr.py:78-89); the join is on the full key tuple.
    """
    ids_l = [id_l] if isinstance(id_l, str) else list(id_l)
    ids_r = [id_r] if isinstance(id_r, str) else list(id_r)
    lp = [l_pair_col] if isinstance(l_pair_col, str) else list(l_pair_col)
    rp = [r_pair_col] if isinstance(r_pair_col, str) else list(r_pair_col)
    needed_l = sorted({c for g in var_schema for c in g["lvars"]})
    needed_r = sorted({c for g in var_schema for c in g["rvars"]})
    lh = data_l.select(
        *[F.col(c).alias(p) for c, p in zip(ids_l, lp)],
        F.lit(1).alias("_l_found"),
        *[F.col(c).cast("string").alias("_l_" + c) for c in needed_l],
    )
    rh = data_r.select(
        *[F.col(c).alias(p) for c, p in zip(ids_r, rp)],
        F.lit(1).alias("_r_found"),
        *[F.col(c).cast("string").alias("_r_" + c) for c in needed_r],
    )
    joined = pairs.join(lh, lp, "left").join(rh, rp, "left")

    missing = F.lit(_NO_DATA_TOKEN)
    out_cols = []
    for g in var_schema:
        name = g["name"].lower().replace(" ", "_")
        lvals = F.array(
            *[
                F.when(F.col("_l_found").isNull(), missing).otherwise(
                    F.coalesce(F.col("_l_" + c), F.lit(_NAN_TOKEN))
                )
                for c in g["lvars"]
            ]
        )
        rvals = F.array(
            *[
                F.when(F.col("_r_found").isNull(), missing).otherwise(
                    F.coalesce(F.col("_r_" + c), F.lit(_NAN_TOKEN))
                )
                for c in g["rvars"]
            ]
        )
        out_cols.append(lvals.alias(f"grp_{name}_lvals"))
        out_cols.append(rvals.alias(f"grp_{name}_rvals"))
    return joined.select(*[pairs[c] for c in pairs.columns], *out_cols)


def grouped_values(
    l_record: dict | None, r_record: dict | None, var_schema: list[dict]
) -> dict[str, list[str]]:
    """Driver-side twin of :func:`grouped_projection` for ONE pair whose
    records are already collected as ``{column: value cast to string}``
    (``None`` = id not found): the same ``grp_<name>_lvals/rvals``
    values, NULL -> ``"nan"``, absent record -> ``"no data found"``."""

    def vals(record: dict | None, cols: list[str]) -> list[str]:
        if record is None:
            return [_NO_DATA_TOKEN] * len(cols)
        return [_NAN_TOKEN if record.get(c) is None else record[c] for c in cols]

    out = {}
    for g in var_schema:
        name = g["name"].lower().replace(" ", "_")
        out[f"grp_{name}_lvals"] = vals(l_record, g["lvars"])
        out[f"grp_{name}_rvals"] = vals(r_record, g["rvars"])
    return out


def text_pair_similarity(
    pairs: DataFrame,
    pages: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    use_jaro_winkler: bool = False,
    broadcast_records: bool = False,
    key_col: str | None = None,
) -> DataFrame:
    """Specialized fast path for the web-pages pipeline: one var group (text).

    Returns pairs + sim_jaccard (+ sim_jw) + exact bit (+ pair_key).
    Kept separate from the general var-schema path so the hot loop at
    100 TB is pure column ops with a single join per side and no UDF
    unless asked.

    Each document is tokenized ONCE on the record side before the join —
    tokenization is O(docs), set-intersection is O(pairs). Tokenizing
    inside the pair expression would redo the split/distinct work
    |pairs|/|docs| times (hundreds x at web scale).

    Token sets travel as arrays of xxhash64 longs, not strings: the
    per-pair intersection then hashes/compares 8-byte fixed-width values
    (~1.7x faster, far less allocation); |union| is derived as
    |L| + |R| - |intersection| from precomputed set sizes so only one
    array op runs per pair. A 64-bit hash collision within one *pair's*
    union (~10^2 tokens) has probability ~1e-16 — immaterial against
    the similarity threshold.

    ``broadcast_records`` hints the record side for broadcast, as in
    :func:`comparison_vectors`; the caller sets it when the records fit
    the session's ``spark.sql.autoBroadcastJoinThreshold``. Unhinted,
    the planner chooses, and a shuffled record side is reused by the
    second join the same way a broadcast one is.

    ``key_col`` names a record column (the pipeline passes the url)
    whose smaller value per pair, ``least(L.key, R.key)`` (NULLs
    skipped, as ``least`` skips them), lands as a last ``pair_key``
    column. It rides the same record relation, so it costs no join:
    the pipeline keeps it on Match rows as the cluster stage's entity
    key.
    """
    from rlr_spark.functions.similarity import norm_tokens

    tok_hashes = F.array_sort(
        F.transform(norm_tokens(F.col(text_col)), lambda t: F.xxhash64(t))
    )
    recs = pages.select(
        F.col(id_col).alias("_rid"),
        tok_hashes.alias("_toks"),
        F.md5(F.lower(F.trim(F.col(text_col)))).alias("_norm_md5"),
        *( [F.col(text_col).alias("_raw")] if use_jaro_winkler else [] ),
        *( [F.col(key_col).alias("_key")] if key_col is not None else [] ),
    ).withColumn("_ntok", F.size("_toks"))
    if broadcast_records:
        recs = F.broadcast(recs)
    # ONE record relation joined on both sides: the planner builds one
    # records exchange (broadcast or shuffle) and reuses it for the
    # second join, so the records are scanned and tokenized once and
    # the pairs stream through both probes
    lrec, rrec = recs.alias("L"), recs.alias("R")
    df = pairs.join(lrec, pairs["l_id"] == F.col("L._rid")).join(
        rrec, pairs["r_id"] == F.col("R._rid")
    )
    inter = F.size(F.array_intersect(F.col("L._toks"), F.col("R._toks"))).cast("double")
    union = (F.col("L._ntok") + F.col("R._ntok")).cast("double") - inter
    # BRANCH-FREE division on purpose: a `when(union == 0).otherwise
    # (inter/union)` form re-evaluates the array_intersect per branch
    # reference — codegen subexpression elimination EXCLUDES conditional
    # branches — which doubled the per-pair cost (measured 14.5s -> 6.8s
    # for the 26M-pair score projection at 300k pages). try_divide
    # yields NULL on union == 0 (both docs empty), coalesced to 0.0 —
    # value-identical to the conditional form.
    out = [
        F.coalesce(F.try_divide(inter, union), F.lit(0.0)).alias("sim_jaccard"),
        # exact bit via the precomputed normalized-text md5: equality of
        # the 16-byte digest, not of two page-sized strings
        (F.col("L._norm_md5") == F.col("R._norm_md5")).cast("double").alias("cmp_text_exact"),
    ]
    if use_jaro_winkler:
        out.append(jaro_winkler(F.col("L._raw"), F.col("R._raw")).alias("sim_jw"))
    if key_col is not None:
        out.append(F.least(F.col("L._key"), F.col("R._key")).alias("pair_key"))
    # the column order of the two using-joins this replaced: r_id, l_id,
    # then the rest of the pair columns
    rest = [pairs[c] for c in pairs.columns if c not in ("l_id", "r_id")]
    return df.select(pairs["r_id"], pairs["l_id"], *rest, *out)
