"""Benchmark entry point: one workload, one JSON result line.

Run from the repository root::

    python3 perfbench/run.py --workload er_small --seed 1 --seconds 5 --trace 0

``--trace 0`` measures with tracing off and prints the end-to-end
metrics of ``BENCHMARK.json``; ``--trace 1`` runs the same workload with
spans and the Spark event log on and prints the per-layer metrics. The
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the full report (samples, tails, checks, host) goes to
``.perfbench/reports/``. Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")


def host_info() -> dict:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_mb": ram // 2**20,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def driver_memory_mb(ram_mb: int) -> int:
    """A quarter of physical RAM, between 1 and 4 GiB."""
    return max(1024, min(ram_mb // 4, 4096))


def start_spark(host: dict, work_dir: str, event_dir: str | None):
    from rlr_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{driver_memory_mb(host['ram_mb'])}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench", master=f"local[{host['cores']}]", extra_conf=conf
    )


def jvm_hwm_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM)."""
    pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _end_to_end(run) -> dict:
    """Spark work per operation and set-up CPU seconds. Operation times
    are not among them: on a shared host they follow the neighbours'
    load further than any bound allows (see README)."""
    from perfbench.stats import median

    return {
        "spark_jobs_per_op": (median(run.samples["op_jobs"]), "count"),
        "spark_tasks_per_op": (median(run.samples["op_tasks"]), "count"),
        "setup_s": (run.setup_cpu_s, "s"),
    }


def _per_layer(run, event_dir: str, session_start_s: float) -> dict:
    from perfbench.stats import median
    from perfbench.trace import layer_metrics, read_event_log, self_times

    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {logs}")
    jobs, tasks = read_event_log(logs[0])
    spans = run.tracer.spans
    vals, charged = layer_metrics(spans, jobs, tasks, run.per_op)

    def named(prefix: str):
        ss = [s for s in spans if s.name.startswith(prefix)]
        return (
            sum(charged[s.id]["jobs"] for s in ss if s.id in charged),
            sum(s.duration for s in ss),
            sum(t["records_written"] for s in ss if s.id in charged for t in charged[s.id]["tasks"]),
        )

    def per(layer: str, v: float) -> float:
        n = run.per_op.get(layer, 0)
        return v / n if n else 0.0

    selfs = self_times(spans)
    read_jobs, read_s, _ = named("Catalog.read")
    render_jobs, _, _ = named("CLReviewer.render_current")
    save_jobs, _, save_rows = named("CLReviewer.process_choice:label")
    batch_ids = {s.id for s in spans if s.name == "stream.batch"}

    def under_batch(s) -> bool:
        while s is not None:
            if s.id in batch_ids:
                return True
            s = spans[s.parent] if s.parent is not None else None
        return False

    batch_jobs = sum(charged[s.id]["jobs"] for s in spans if s.id in charged and under_batch(s))
    updates = [s.duration for s in spans if s.name == "EntityState.update"]
    f = run.facts
    stage_s = {
        k: vals[f"{k}.call_s"] + vals[f"{k}.exec_s"] for k in ("extract", "score")
    }
    vals.update(
        {
            "extract.pages_per_s": run.records_per_op / stage_s["extract"] if stage_s["extract"] else 0.0,
            "score.pairs_per_s": f.get("blocking.candidate_pairs", 0) / stage_s["score"] if stage_s["score"] else 0.0,
            "catalog.read_jobs": per("catalog", read_jobs),
            "catalog.read_s": per("catalog", read_s),
            "pipeline.self_s": per(
                "pipeline", sum(selfs[s.id] for s in spans if s.layer == "pipeline")
            ),
            "ingest.jobs_per_batch": per("ingest", batch_jobs),
            "ingest.compact_s": sum(s.duration for s in spans if s.name == "ingest.compact_state"),
            "entities.update_s": median(updates) if updates else 0.0,
            "entities.compact_s": sum(
                s.duration for s in spans if s.name == "EntityState.compact_aliases"
            ),
            "review.render_s": median(run.samples["render_s"]) if run.samples.get("render_s") else 0.0,
            "review.label_save_s": median(run.samples["label_save_s"]) if run.samples.get("label_save_s") else 0.0,
            "review.render_jobs": per("review", render_jobs),
            "review.save_jobs": per("review", save_jobs),
            "review.rows_written_per_label": per("review", save_rows),
            "session.start_s": session_start_s,
            "session.warmup_s": f["session.warmup_s"],
            "trace.op_s_p50": median(run.op_walls),
            "trace.op_cpu_s": median(run.op_cpus),
        }
    )
    for k, v in f.items():
        if k != "input_sha256":
            vals[k] = v
    return vals


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "rlr_spark", "__init__.py")):
        print(f"error: no rlr_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    # keep every file Spark, the JVM and Python workers write in the checkout
    local, tmp = os.path.join(SCRATCH, "local"), os.path.join(SCRATCH, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "RLR_LOCAL_DIR": local,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # every JVM (launcher and driver): temp files here, and no
            # hsperfdata file, which Java always puts under /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    work_dir = os.path.join(SCRATCH, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    event_dir = os.path.join(work_dir, "eventlog") if args.trace else None

    host = host_info()
    t = time.perf_counter()
    spark = start_spark(host, work_dir, event_dir)
    session_start_s = time.perf_counter() - t
    tracer = Tracer(spark if args.trace else None)
    run = Run(
        spark=spark,
        root=ROOT,
        cache_dir=os.path.join(SCRATCH, "inputs"),
        work_dir=work_dir,
        seed=args.seed,
        seconds=args.seconds,
        tracer=tracer,
        t_process=T_PROCESS,
    )
    try:
        WORKLOADS[args.workload](run)
        run.facts["session.peak_rss_mb"] = (
            jvm_hwm_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        host["spark"] = spark.version
    finally:
        tracer.unwrap_all()
        stop_spark(spark)
    try:
        if not run.op_walls:
            print("error: no operation completed", file=sys.stderr)
            return 1
        if args.trace:
            values = _per_layer(run, event_dir, session_start_s)
            wanted = spec["per_layer"]
        else:
            e2e = _end_to_end(run)
            values = {k: v for k, (v, _) in e2e.items()}
            wanted = spec["end_to_end"]
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        }
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    failed_checks = sum(not c["ok"] for c in run.checks.values())
    result = {
        "correct": failed_checks == 0 and run.failed_ops == 0,
        "attempted": len(run.op_walls) + run.failed_ops + len(run.checks),
        "failed": run.failed_ops + failed_checks,
        "metrics": metrics,
    }
    _write_report(args, host, run, result)
    print(json.dumps(result))
    return 0


def _write_report(args, host: dict, run, result: dict) -> None:
    from perfbench.stats import tail

    samples = dict(run.samples, op_s=run.op_walls, op_cpu_s=run.op_cpus)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "setup_wall_s": run.setup_wall_s,
        "setup_cpu_s": run.setup_cpu_s,
        "samples": samples,
        "tails": {k: tail(v) for k, v in samples.items()},
        "checks": run.checks,
        "facts": run.facts,
        "result": result,
    }
    out = os.path.join(SCRATCH, "reports")
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(report, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
