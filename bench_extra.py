"""Extra benchmarks / profiling for the optimization round (bench.py is
FROZEN for measurement — this file holds the noop-sink isolation runs,
stage-level attribution and plan dumps cited in OPTIMIZATION_r07.md).

Usage:
    python bench_extra.py [query ...]          # time queries (noop sink)
    python bench_extra.py --plans [query ...]  # dump explain("formatted")
                                               # to plans/r07/<q>_<tag>.txt
Env:
    SPARK_GRAFT_SF_DIR   default /root/testdata/sf0.1
    SPARK_GRAFT_CPUS     default: cores this process may run on
    RLR_BENCH_TRIALS     default 2 (min-of-N)
    RLR_PLAN_TAG         suffix for plan files (default "before")
    RLR_STAGE_METRICS=1  pull per-stage metrics from the UI REST API
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
TRIALS = int(os.environ.get("RLR_BENCH_TRIALS", "2"))
TAG = os.environ.get("RLR_PLAN_TAG", "before")
STAGE_METRICS = os.environ.get("RLR_STAGE_METRICS", "0") == "1"


def _spark():
    from rlr_spark.session import get_spark

    par = CPUS * 3
    extra = {"spark.default.parallelism": str(par)}
    if STAGE_METRICS:
        extra["spark.ui.enabled"] = "true"
    return get_spark(
        app_name="rlr_bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=par,
        extra_conf=extra,
    )


def _warm(spark):
    from pyspark.sql import functions as F

    from rlr_spark.operators.extract import extract_text

    warm = spark.range(0, 1_000_000, 1, CPUS).select(
        F.bit_xor(F.xxhash64("id")).alias("s")
    )
    warm.collect()
    spark.range(0, CPUS * 4, 1, CPUS * 4).selectExpr(
        "cast(concat('<body><p>w', id, '</p></body>') as binary) as html"
    ).transform(extract_text).write.format("noop").mode("overwrite").save()


def _stage_report(app_id: str, after_submit_ms: int) -> list[dict]:
    url = f"http://localhost:4040/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.loads(r.read())
    out = []
    for s in stages:
        sub = s.get("firstTaskLaunchedTime") or s.get("submissionTime")
        if sub is None:
            continue
        t = time.strptime(sub.split(".")[0], "%Y-%m-%dT%H:%M:%S")
        if time.mktime(t) * 1000 < after_submit_ms - 1000:
            continue
        out.append(
            {
                "stage": s["stageId"],
                "name": s["name"].split("\n")[0][:60],
                "tasks": s["numCompleteTasks"],
                "exec_cpu_s": round(s.get("executorCpuTime", 0) / 1e9, 1),
                "exec_run_s": round(s.get("executorRunTime", 0) / 1e3, 1),
                "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
                "sh_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
                "sh_read_rows": s.get("shuffleReadRecords", 0),
                "sh_write_rows": s.get("shuffleWriteRecords", 0),
                "out_rows": s.get("outputRecords", 0),
            }
        )
    return sorted(out, key=lambda d: -d["exec_run_s"])


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    do_plans = "--plans" in sys.argv

    import __spark_entry__ as entrymod

    spark = _spark()
    qs = {**entrymod.queries(), **entrymod.extended_queries()}
    names = args or [
        "c3_fs_score", "cc_clusters", "dedup_minhash", "dedup_simhash",
        "dedup_prefix_join", "text_stats", "text_bigram_lm", "graph_pagerank",
        "bm25_topk", "emb_topk_cosine", "j1_pair_record_join", "meta_blocking",
        "soft_tfidf", "graph_adamic_adar", "clk_dice",
    ]

    if do_plans:
        os.makedirs("plans/r07", exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            path = f"plans/r07/{name}_{TAG}.txt"
            with open(path, "w") as f:
                f.write(formatted_plan(df))
            print(f"wrote {path}")
        return

    _warm(spark)
    app_id = spark.sparkContext.applicationId
    results = {}
    for name in names:
        best = None
        for trial in range(TRIALS):
            spark.sparkContext.setJobDescription(f"{name} trial {trial}")
            t0 = time.time()
            t0_ms = int(t0 * 1000)
            df = qs[name](spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            wall = time.time() - t0
            best = wall if best is None else min(best, wall)
            if STAGE_METRICS and trial == TRIALS - 1:
                try:
                    rep = _stage_report(app_id, t0_ms)
                    print(f"--- stages for {name} (last trial, {wall:.2f}s wall):")
                    for s in rep[:14]:
                        print(
                            f"  s{s['stage']:>4} run={s['exec_run_s']:>7}s cpu={s['exec_cpu_s']:>7}s "
                            f"tasks={s['tasks']:>4} in={s['input_mb']}MB "
                            f"shR={s['sh_read_mb']}MB/{s['sh_read_rows']}r "
                            f"shW={s['sh_write_mb']}MB/{s['sh_write_rows']}r  {s['name']}"
                        )
                except Exception as e:  # noqa: BLE001
                    print(f"  (stage metrics unavailable: {e})")
        spark.sparkContext.setJobDescription(None)
        results[name] = round(best, 3)
        print(f"{name}: {results[name]}s")
    print(json.dumps({"queries": results, "sf": os.path.basename(SF_DIR.rstrip('/')), "cpus": CPUS}))


if __name__ == "__main__":
    main()
