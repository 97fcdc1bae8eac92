"""Driver-side text rendering — the reference's CLI review surface.

The reference's CL_* functions (backend/rlr.py:376-512) render a pair's
grouped values side by side with exact-match highlighting and a label
summary box. These are presentation, not Spark operators (SURVEY.md
§2.1 last row); they live here as thin formatters over the engine's
DataFrames so a reviewer can spot-check pairs from the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rlr_spark.operators.review import label_counts, warn_unexpected_labels


def render_pair(
    grouped_row, var_schema: list[dict], width: int = 80
) -> str:
    """One pair as a three-column text table (≈ CL_print_comparison_full,
    rlr.py:409-436): lvals | group name | rvals, '=' flag when the
    normalized concat matches (the pages/02:137-143 comparator)."""
    col = (width - 7) // 3
    lines = ["-" * width]
    for g in var_schema:
        name = g["name"].lower().replace(" ", "_")
        lvals = list(grouped_row[f"grp_{name}_lvals"])
        rvals = list(grouped_row[f"grp_{name}_rvals"])
        same = "".join(str(v).strip().lower() for v in lvals) == "".join(
            str(v).strip().lower() for v in rvals
        )
        mark = "=" if same else " "
        for i in range(max(len(lvals), len(rvals))):
            lv = str(lvals[i]) if i < len(lvals) else ""
            rv = str(rvals[i]) if i < len(rvals) else ""
            mid = g["name"] if i == 0 else ""
            lines.append(
                f"{lv[:col]:>{col}} | {mid[:col]:^{col}} {mark} | {rv[:col]:<{col}}"
            )
        lines.append("-" * width)
    return "\n".join(lines)


def render_label_summary(pairs: DataFrame, label_choices: list[str] | None = None) -> str:
    """Label summary box (≈ CL_print_label_summary, rlr.py:479-512).
    One collect of :func:`label_counts`; the unexpected-label warning is
    checked on the collected rows."""
    counts = {r.label: r["count"] for r in label_counts(pairs).collect()}
    if label_choices is not None:
        warn_unexpected_labels(list(counts), label_choices)
    total = sum(counts.values())
    width = max([len(k) for k in counts] + [10]) + 14
    lines = ["+" + "-" * width + "+", "|" + "Label Summary".center(width) + "|"]
    lines.append("+" + "-" * width + "+")
    order = (label_choices or []) + [k for k in sorted(counts) if k not in (label_choices or [])]
    seen = set()
    for label in order:
        if label in counts and label not in seen:
            seen.add(label)
            n = counts[label]
            pct = 100 * n / total if total else 0
            lines.append(f"| {label:<{width - 16}} {n:>6} {pct:5.1f}% |")
    lines.append("+" + "-" * width + "+")
    lines.append(f"| {'Total':<{width - 9}} {total:>6} |")
    lines.append("+" + "-" * width + "+")
    return "\n".join(lines)


def linkage_quality_report(
    scored: DataFrame,
    records: DataFrame | None = None,
    truth: DataFrame | None = None,
    thresholds: tuple[float, ...] = (0.0, 2.0, 4.0),
    score_col: str = "fs_score",
    id_col: str = "doc_id",
    max_rows: int = 12,
) -> str:
    """One-call markdown quality report for a scored linkage run — the
    page a practitioner reads before trusting the output. Composes the
    engine's (individually oracle-checked) evaluation operators:

    - score distribution (bucketed, never per-pair on the driver)
    - unlinkables curve (needs ``records``) — the data-quality ceiling
    - threshold sweep best-F1 rows (needs ``truth``)
    - cluster stability across ``thresholds`` — merge-explosion check

    Every section collects only bucket/summary rows (bounded by distinct
    score values, thresholds, or ``max_rows``); the pair table itself is
    scanned by the underlying operators, not shipped to the driver.
    """
    from pyspark.sql import functions as F

    from rlr_spark.operators.evaluate import (
        cluster_stability,
        threshold_sweep,
        unlinkables,
    )

    def table(rows, cols) -> str:
        if not rows:
            return "_(empty)_\n"
        head = "| " + " | ".join(cols) + " |"
        sep = "|" + "|".join("---" for _ in cols) + "|"
        body = "\n".join(
            "| " + " | ".join(str(r[c]) for c in cols) + " |" for r in rows
        )
        return f"{head}\n{sep}\n{body}\n"

    sc = scored.localCheckpoint(eager=False)
    parts: list[str] = ["# Linkage quality report\n"]

    dist = (
        sc.groupBy(F.round(F.col(score_col), 0).alias("score"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("score")
        .collect()
    )
    total = sum(r["n_pairs"] for r in dist)
    parts.append(f"## Score distribution ({total} scored pairs)\n")
    parts.append(table(dist, ["score", "n_pairs"]))

    if records is not None:
        curve = (
            unlinkables(records, sc, id_col=id_col, score_col=score_col)
            .orderBy(F.asc_nulls_first("best_score"))
            .collect()
        )
        parts.append("\n## Unlinkables (best score per record)\n")
        parts.append(table(curve, ["best_score", "n_records", "prop", "cum_prop"]))

    if truth is not None:
        sweep = (
            threshold_sweep(sc, truth, score_col=score_col)
            .orderBy(F.col("f1").desc())
            .limit(max_rows)
            .collect()
        )
        parts.append("\n## Threshold sweep (top thresholds by F1)\n")
        parts.append(
            table(sweep, ["threshold", "precision", "recall", "f1"])
        )

    stab = cluster_stability(sc, list(thresholds), score_col=score_col).collect()
    parts.append("\n## Cluster stability\n")
    parts.append(
        table(
            sorted(stab, key=lambda r: r["threshold"]),
            ["threshold", "n_entities", "n_linked_records", "max_cluster_size"],
        )
    )
    return "\n".join(parts)
