"""Review-surface operators: the reference's pair-table semantics in Spark.

Reproduces, column-for-column, the reference's review contract:

  - review columns ``rlr_label, rlr_label_ind, rlr_modified, rlr_note,
    rlr_l_id_exists, rlr_r_id_exists`` with the same init values
    (backend/rlr.py:14-19, 159-165);
  - id-existence flags — the reference probes the pandas index row by
    row (rlr.py:168-179, an explicit anti-pattern at scale); here it is
    one distinct-project + left join per side (SURVEY.md V3);
  - pair-coverage ratio vs the 0.8 warn threshold (rlr.py:20, 181-185);
  - label counts with the "Unlabeled" bucket and the total-consistency
    invariant (``get_label_counts``, rlr.py:341-368);
  - label/note upsert with choice validation + ``rlr_modified`` stamping
    (``save_label_or_note``, rlr.py:698-744): one set of column rules,
    applied after a keyed left join (bulk) or under a key predicate (the
    reviewer's one-pair save) — ``MERGE INTO`` when an Iceberg catalog
    is live;
  - cursor navigation (next/prev/goto/next-unlabeled, rlr.py:615-633,
    pages/02:25-54) as filter+orderBy+limit point queries.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rlr_spark import (
    COMP_EXIST_THRESH,
    REV_DATE_COL,
    REV_ID_IN_L_COL,
    REV_ID_IN_R_COL,
    REV_LABEL_COL,
    REV_LABEL_IND_COL,
    REV_NOTE_COL,
)

_UNLABELED = "Unlabeled"


def init_review_columns(pairs: DataFrame) -> DataFrame:
    """Append any missing rlr_* columns with reference init values
    (rlr.py:159-165): label ""/ind 0/modified NULL/note ""/exists 0."""
    defaults = {
        REV_LABEL_COL: F.lit(""),
        REV_LABEL_IND_COL: F.lit(0),
        REV_DATE_COL: F.lit(None).cast("timestamp"),
        REV_NOTE_COL: F.lit(""),
        REV_ID_IN_L_COL: F.lit(0),
        REV_ID_IN_R_COL: F.lit(0),
    }
    out = pairs
    for c, d in defaults.items():
        if c not in out.columns:
            out = out.withColumn(c, d)
    return out


def _as_list(v) -> list[str]:
    return [v] if isinstance(v, str) else list(v)


def existence_flags(
    pairs: DataFrame,
    data_l: DataFrame,
    data_r: DataFrame,
    id_l: str | list[str],
    id_r: str | list[str],
    l_pair_col: str | list[str] | None = None,
    r_pair_col: str | list[str] | None = None,
) -> DataFrame:
    """Set rlr_l_id_exists / rlr_r_id_exists via distinct-project + join.

    Replaces the reference's per-row index probe (rlr.py:168-179). The
    distinct id projections are tiny relative to the pair table and
    broadcast naturally under AQE.

    Ids may be composite (lists): the reference declares multi-column
    ids (rlr.py:78-89) but its own existence check probes only the first
    (rlr.py:175-178, marked TODO there) — here the flag is computed on
    the FULL key tuple.
    """
    ids_l, ids_r = _as_list(id_l), _as_list(id_r)
    lp = ids_l if l_pair_col is None else _as_list(l_pair_col)
    rp = ids_r if r_pair_col is None else _as_list(r_pair_col)
    l_ids = (
        data_l.select(*[F.col(c).alias(p) for c, p in zip(ids_l, lp)])
        .distinct()
        .withColumn("_l_hit", F.lit(1))
    )
    r_ids = (
        data_r.select(*[F.col(c).alias(p) for c, p in zip(ids_r, rp)])
        .distinct()
        .withColumn("_r_hit", F.lit(1))
    )
    out = (
        pairs.drop(REV_ID_IN_L_COL, REV_ID_IN_R_COL)
        .join(l_ids, lp, "left")
        .join(r_ids, rp, "left")
        .withColumn(REV_ID_IN_L_COL, F.coalesce(F.col("_l_hit"), F.lit(0)))
        .withColumn(REV_ID_IN_R_COL, F.coalesce(F.col("_r_hit"), F.lit(0)))
        .drop("_l_hit", "_r_hit")
    )
    return out


def coverage_ratio(pairs: DataFrame, warn_threshold: float = COMP_EXIST_THRESH) -> float:
    """Fraction of pairs whose both ids were found (rlr.py:181-185);
    warns below the reference's threshold (rlr.py:20)."""
    row = pairs.agg(
        F.avg((F.col(REV_ID_IN_L_COL) * F.col(REV_ID_IN_R_COL)).cast("double")).alias("r")
    ).collect()[0]
    ratio = float(row.r) if row.r is not None else 0.0
    if ratio < warn_threshold:
        warnings.warn(
            f"Only {ratio:.1%} of candidate pairs have both ids present "
            f"(threshold {warn_threshold:.0%})",
            stacklevel=2,
        )
    return ratio


def label_counts(pairs: DataFrame, label_choices: list[str] | None = None) -> DataFrame:
    """Counts per label with empty/NULL folded into "Unlabeled"
    (``get_label_counts``, rlr.py:341-368). One aggregation; the
    reference's re-scan consistency check (rlr.py:363-366) becomes
    ``sum(count) == pairs.count()`` for the caller."""
    out = (
        pairs.groupBy(
            F.coalesce(F.nullif(F.col(REV_LABEL_COL), F.lit("")), F.lit(_UNLABELED)).alias(
                "label"
            )
        )
        .agg(F.count("*").alias("count"))
    )
    if label_choices is not None:
        warn_unexpected_labels([r.label for r in out.select("label").collect()], label_choices)
    return out


def warn_unexpected_labels(labels: list[str], label_choices: list[str]) -> None:
    """Warn, at the caller's caller, about collected :func:`label_counts`
    labels that are neither a choice nor "Unlabeled"."""
    expected = set(label_choices) | {_UNLABELED}
    unexpected = [label for label in labels if label not in expected]
    if unexpected:
        warnings.warn(f"Unexpected labels present: {unexpected}", stacklevel=3)


def label_percentages(pairs: DataFrame) -> DataFrame:
    """Label counts + share of total, round 1 (pages/01:267-270, 02:72-75)."""
    counts = label_counts(pairs)
    total = counts.agg(F.sum("count").alias("t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "label",
        "count",
        F.round(F.col("count") / F.col("t") * 100, 1).alias("pct"),
    )


def completion(pairs: DataFrame) -> tuple[int, int]:
    """(labeled, total) — the celebrate-when-done check (pages/02:185-191)."""
    row = pairs.agg(
        F.coalesce(F.sum(REV_LABEL_IND_COL), F.lit(0)).alias("labeled"),
        F.count("*").alias("total"),
    ).collect()[0]
    return int(row.labeled), int(row.total)


def check_label(label: str | None, label_choices: list[str]) -> None:
    """The rlr.py:729 assert: a label is "" (clear) or one of the choices."""
    if label and label not in label_choices:
        raise ValueError(f"Label {label!r} not in {label_choices}")


def label_update_columns(new_label: Column, new_note: Column, ts: Column) -> dict[str, Column]:
    """The save_label_or_note column rules (rlr.py:731-740) for rows
    whose update is ``new_label`` / ``new_note`` (NULL = leave as is):
    label and note take the new value, the indicator follows the
    resulting label, and rlr_modified is stamped with ``ts`` when
    either value is set."""
    label = F.coalesce(new_label, F.col(REV_LABEL_COL))
    return {
        REV_LABEL_COL: label,
        REV_LABEL_IND_COL: F.when(label != "", 1).otherwise(0),
        REV_DATE_COL: F.when(new_label.isNotNull() | new_note.isNotNull(), ts).otherwise(
            F.col(REV_DATE_COL)
        ),
        REV_NOTE_COL: F.coalesce(new_note, F.col(REV_NOTE_COL)),
    }


def upsert_labels(
    pairs: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    label_choices: list[str],
    stamp_ts: str | None = None,
) -> DataFrame:
    """Bulk ``save_label_or_note`` (rlr.py:698-744): validate labels ∈
    choices (rlr.py:729 assert), set label + indicator (rlr.py:731-732),
    stamp rlr_modified (rlr.py:740).

    ``updates``: key_cols + optional ``rlr_label`` / ``rlr_note``.
    Merge emulation (left join, then :func:`label_update_columns`); with
    a live Iceberg catalog this is a single ``MERGE INTO``. ``stamp_ts``
    pins the timestamp for deterministic tests; None ->
    current_timestamp().
    """
    if REV_LABEL_COL in updates.columns:
        bad = (
            updates.where(
                (F.col(REV_LABEL_COL) != "") & (~F.col(REV_LABEL_COL).isin(label_choices))
            )
            .limit(1)
            .collect()
        )
        if bad:
            check_label(bad[0][REV_LABEL_COL], label_choices)

    ts = F.to_timestamp(F.lit(stamp_ts)) if stamp_ts else F.current_timestamp()
    upd = updates
    for c in (REV_LABEL_COL, REV_NOTE_COL):
        if c not in upd.columns:
            upd = upd.withColumn(c, F.lit(None).cast("string"))
    upd = upd.select(
        *key_cols,
        F.col(REV_LABEL_COL).alias("_new_label"),
        F.col(REV_NOTE_COL).alias("_new_note"),
    )
    return (
        pairs.join(upd, key_cols, "left")
        .withColumns(label_update_columns(F.col("_new_label"), F.col("_new_note"), ts))
        .drop("_new_label", "_new_note")
    )


# -- navigation (N1-N3): point queries over the ordered pair table ----------

def next_pair(pairs: DataFrame, pair_id_col: str, cur: int) -> DataFrame:
    return pairs.where(F.col(pair_id_col) > cur).orderBy(pair_id_col).limit(1)


def prev_pair(pairs: DataFrame, pair_id_col: str, cur: int) -> DataFrame:
    return pairs.where(F.col(pair_id_col) < cur).orderBy(F.col(pair_id_col).desc()).limit(1)


def next_unlabeled(pairs: DataFrame, pair_id_col: str, cur: int) -> DataFrame:
    """The reference walks rows one by one (pages/02:33-35); this is a
    filter + top-1 (SURVEY.md N2)."""
    return (
        pairs.where((F.col(REV_LABEL_COL) == "") & (F.col(pair_id_col) > cur))
        .orderBy(pair_id_col)
        .limit(1)
    )


def goto_pair(pairs: DataFrame, pair_id_col: str, idx: int) -> DataFrame:
    return pairs.where(F.col(pair_id_col) == idx)


def dense_pair_ids(pairs: DataFrame, order_cols: list[str], out_col: str = "pair_id") -> DataFrame:
    """0..N-1 positional pair id over a canonical ordering (rlr.py:157).

    A global ``row_number`` is a single-partition sort — acceptable for
    review extracts, wrong for the 10^12-pair table, where the canonical
    ``(l_id, r_id)`` key is the identity (SURVEY.md P1). Kept for parity
    and small review slices only.
    """
    from pyspark.sql import Window

    w = Window.orderBy(*order_cols)
    return pairs.withColumn(out_col, F.row_number().over(w) - 1)
