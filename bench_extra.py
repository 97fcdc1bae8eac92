"""Extra benchmarks / profiling for the optimization round (bench.py is
FROZEN for measurement — this file holds the noop-sink isolation runs
and plan dumps cited in OPTIMIZATION_r07.md).

Usage:
    python bench_extra.py [query ...]          # time queries (noop sink)
    python bench_extra.py --plans [query ...]  # dump explain("formatted")
                                               # to plans/r07/<q>_<tag>.txt
Env:
    SPARK_GRAFT_SF_DIR   default /root/testdata/sf0.1
    SPARK_GRAFT_CPUS     default: cores this process may run on
    RLR_BENCH_TRIALS     default 2 (min-of-N)
    RLR_PLAN_TAG         suffix for plan files (default "before")
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
TRIALS = int(os.environ.get("RLR_BENCH_TRIALS", "2"))
TAG = os.environ.get("RLR_PLAN_TAG", "before")


def _spark():
    from rlr_spark.session import get_spark

    par = CPUS * 3
    return get_spark(
        app_name="rlr_bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=par,
        extra_conf={"spark.default.parallelism": str(par)},
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
    results = {}
    for name in names:
        best = None
        for trial in range(TRIALS):
            spark.sparkContext.setJobDescription(f"{name} trial {trial}")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            wall = time.time() - t0
            best = wall if best is None else min(best, wall)
        spark.sparkContext.setJobDescription(None)
        results[name] = round(best, 3)
        print(f"{name}: {results[name]}s")
    print(json.dumps({"queries": results, "sf": os.path.basename(SF_DIR.rstrip('/')), "cpus": CPUS}))


if __name__ == "__main__":
    main()
