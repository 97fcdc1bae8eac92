"""Inspect physical plans for the properties that matter at 100 TB.

Used by tests/test_plans.py and handy interactively:

    from rlr_spark.plans import physical_plan, read_schemas
    print(physical_plan(df))
    assert read_schemas(df) == [{"url", "text"}]
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, execute: bool = False) -> str:
    """The physical plan string. ``execute=True`` runs the frame first so
    the adaptive plan is final and codegen spans (``*(n)``) are visible."""
    if execute:
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def read_schemas(df: DataFrame) -> list[set[str]]:
    """Column sets each file scan actually reads (column-pruning check)."""
    plan = physical_plan(df)
    out = []
    for rs in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        out.append({c.split(":")[0] for c in rs.split(",") if c})
    return out


def has_shuffle_lineage(df: DataFrame) -> bool:
    """True when the plan contains a SHUFFLE exchange (not broadcast).

    On such plans ``df.rdd`` / ``.getNumPartitions()`` finalizes the AQE
    plan and RUNS the upstream shuffle map stages, whose work then
    re-executes on the real action (measured ~2x per-stage cost — the
    pipeline pre-write probe bug). Probe partition counts only when this
    returns False (scan-rooted or local plans, where ``.rdd`` is
    metadata-only). Stringifying the plan itself never runs a job.

    ``BroadcastExchange`` is deliberately EXCLUDED: a broadcast-only
    plan has no shuffle repartitioning, so a caller like
    ``lsh_band_keys``'s auto-rebalance still wants to probe/fix its
    partition count (``.rdd`` on such a plan does run the broadcast
    job once, but its result is reused by the real action).
    """
    return re.search(r"(?<!Broadcast)Exchange|ShuffleQueryStage|AQEShuffleRead",
                     physical_plan(df)) is not None


def count_jobs(sc, fn):
    """Run ``fn()`` and return ``(jobs_triggered, result)``.

    Counts Spark jobs submitted during the call via the status tracker —
    the direct way to assert an API is lazy (zero pre-jobs) in tests.
    """
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    result = fn()
    after = set(tracker.getJobIdsForGroup(None) or [])
    return len(after - before), result


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of each scan (predicate-pushdown check)."""
    plan = physical_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def has_python_udf(df: DataFrame) -> bool:
    plan = physical_plan(df)
    return "PythonUDF" in plan or "BatchEvalPython" in plan or "ArrowEvalPython" in plan
