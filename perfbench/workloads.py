"""The benchmark's workloads. Each is one closed-loop client: an
operation starts only after the previous one has completed.

``er_small``
    ``Pipeline.run(force=True)`` on a 2,000-page corpus, repeated for the
    run's seconds (and ``ER_MIN_OPS`` times at least) after one warm-up
    run. An operation ends when the
    cluster table is materialized. The fixed per-job floor is most of
    the wall here. With ``--trace 1`` a short incremental phase follows
    (the ``stream_*`` constants), so the ingest and entities layers are
    traced too.
``review_session``
    Scripted ``CLReviewer`` actions (render, label, next) over a
    2,000-pair packet. No blocking, scoring or clustering runs; every
    label save rewrites the pair table.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from perfbench import inputs
from perfbench.trace import Tracer

#: Operations a run measures at least, however long they take. On a
#: 4-core host they outlast run_seconds, so every run measures the same
#: operations: the JVM is still compiling after warm-up, and the first
#: measured pipeline run costs 10-25% more CPU than the second.
ER_MIN_OPS = 1
REVIEW_MIN_OPS = 4
ER_PAGES = 2000
REVIEW_PAGES = 1000
REVIEW_PAIRS = 2000
REVIEW_WARMUP_ACTIONS = 2
STREAM_PAGES = 400
STREAM_BATCHES = 2
STREAM_BUCKETS = 8
#: job group prefix of the measured operations
OP_GROUP = "perfbench-op-"
LABEL_CHOICES = ["Match", "Not a Match", "Maybe a Match"]
REVIEW_SCHEMA = [
    {"name": "URL", "lvars": ["l_url"], "rvars": ["r_url"]},
    {"name": "Text", "lvars": ["l_text"], "rvars": ["r_text"]},
    {"name": "Language", "lvars": ["l_lang"], "rvars": ["r_lang"]},
]


@dataclass
class Run:
    """What one benchmark run measures and checks."""

    spark: object
    root: str
    cache_dir: str
    work_dir: str
    seed: int
    seconds: float
    tracer: Tracer
    t_process: float
    setup_wall_s: float = 0.0
    setup_cpu_s: float = 0.0
    op_walls: list[float] = field(default_factory=list)
    op_cpus: list[float] = field(default_factory=list)
    records_per_op: float = 0.0
    failed_ops: int = 0
    checks: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    facts: dict = field(default_factory=dict)
    per_op: dict = field(default_factory=dict)

    @property
    def tracing(self) -> bool:
        return self.tracer.spark is not None

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.checks[name] = {"ok": bool(ok), "detail": detail}

    def end_setup(self) -> None:
        self.setup_wall_s = time.perf_counter() - self.t_process
        self.setup_cpu_s = tree_cpu_s()

    def measure(self, fn):
        """Run ``fn()`` as one operation, traced when tracing is on, and
        record its wall time, its process-tree CPU time and the host's
        steal share meanwhile. Its Spark jobs run in their own job group,
        which :meth:`count_spark_work` reads. Returns what ``fn``
        returns."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{OP_GROUP}{len(self.op_walls)}", "benchmark operation")
        steal0, cpu0, t0 = host_steal(), tree_cpu_s(), time.perf_counter()
        self.tracer.active = True
        try:
            out = fn()
        finally:
            self.tracer.active = False
            sc.setLocalProperty("spark.jobGroup.id", None)
        wall, cpu, steal1 = time.perf_counter() - t0, tree_cpu_s() - cpu0, host_steal()
        self.op_walls.append(wall)
        self.op_cpus.append(cpu)
        self.samples.setdefault("steal_share", []).append(
            (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        )
        return out

    def closed_loop(self, op, min_ops: int) -> None:
        """Run ``op()`` back to back until ``seconds`` have passed and at
        least ``min_ops`` ran; ``op`` wraps its timed part in
        :meth:`measure`."""
        t0 = time.perf_counter()
        while len(self.op_walls) < min_ops or time.perf_counter() - t0 < self.seconds:
            try:
                op()
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                self.failed_ops += 1
                break
        self.count_spark_work()

    def count_spark_work(self) -> None:
        """Spark jobs, tasks run and tasks failed of each measured
        operation, from the status tracker once the listener bus has
        delivered every event."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        tracker = sc.statusTracker()
        for i in range(len(self.op_walls)):
            jobs = tracker.getJobIdsForGroup(f"{OP_GROUP}{i}")
            stages = [
                tracker.getStageInfo(st)
                for j in jobs
                for st in tracker.getJobInfo(j).stageIds
            ]
            if any(st is None for st in stages):
                raise RuntimeError("the status tracker dropped a stage; raise spark.ui.retainedStages")
            for key, n in (
                ("op_jobs", len(jobs)),
                ("op_tasks", sum(st.numCompletedTasks for st in stages)),
                ("op_failed_tasks", sum(st.numFailedTasks for st in stages)),
            ):
                self.samples.setdefault(key, []).append(n)


def host_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by process ``root`` (default: this one)
    and all its descendants: the Spark JVM and its Python workers.
    Children that have exited and been reaped count through their
    parent's cutime/cstime. Time the hypervisor steals is not in it."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we looked
            continue
        # fields[1] is ppid; [11:15] utime, stime, cutime, cstime
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    ticks = 0
    for pid, (_, t) in procs.items():
        p = pid
        while p in procs and p != root:
            p = procs[p][0]
        if p == root:
            ticks += t
    return ticks / os.sysconf("SC_CLK_TCK")


def _fingerprint(clusters) -> tuple[int, int]:
    """Order-independent (rows, xor of row hashes) of (url, entity_key)."""
    from pyspark.sql import functions as F

    row = clusters.agg(
        F.count("*").alias("n"), F.bit_xor(F.xxhash64("url", "entity_key")).alias("x")
    ).collect()[0]
    return int(row.n), int(row.x)


def _dir_stats(*dirs: str) -> tuple[int, float]:
    files, size = 0, 0
    for d in dirs:
        for base, _, names in os.walk(d):
            files += len(names)
            size += sum(os.path.getsize(os.path.join(base, n)) for n in names)
    return files, size / 1e6


def er_small(run: Run) -> None:
    import rlr_spark.pipeline as pl
    from rlr_spark.catalog import Catalog
    from rlr_spark.pipeline import Pipeline, PipelineConfig, pairwise_f1

    spark, tr = run.spark, run.tracer
    if run.tracing:
        stage_layer = {"extract": "extract", "pairs": "blocking", "score": "score", "cluster": "cluster"}
        tr.wrap(pl, "extract_text", "extract")
        tr.wrap(pl, "candidate_pairs", "blocking")
        tr.wrap(pl, "text_pair_similarity", "score")
        tr.wrap(pl, "score_and_label", "score")
        tr.wrap(pl, "connected_components", "cluster")
        tr.wrap(Pipeline, "run", "pipeline", kind="op")
        tr.wrap(
            Catalog,
            "write",
            lambda a, k: stage_layer.get(k.get("name", a[2] if len(a) > 2 else ""), "catalog"),
            kind="exec",
        )
        tr.wrap(Catalog, "read", "catalog")

    corpus, digest = inputs.web_corpus(run.cache_dir, run.root, ER_PAGES, run.seed)
    run.facts["input_sha256"] = digest
    pages = spark.read.parquet(os.path.join(corpus, "web_pages.parquet"))
    truth = spark.read.parquet(os.path.join(corpus, "truth.parquet"))
    warehouse = os.path.join(run.work_dir, "warehouse")
    pipe = Pipeline(spark, Catalog(spark, warehouse), PipelineConfig(salt_k=8, max_block_size=2000))

    t = time.perf_counter()
    out = pipe.run(pages, force=True)
    fingerprints = [_fingerprint(out["cluster"])]
    run.facts["session.warmup_s"] = time.perf_counter() - t
    run.end_setup()

    def op() -> None:
        nonlocal out
        out = run.measure(lambda: pipe.run(pages, force=True))
        fingerprints.append(_fingerprint(out["cluster"]))

    run.closed_loop(op, ER_MIN_OPS)
    run.records_per_op = ER_PAGES
    for layer in ("extract", "blocking", "score", "cluster", "catalog", "pipeline"):
        run.per_op[layer] = len(run.op_walls)

    f1 = pairwise_f1(out["cluster"], truth)
    run.facts["cluster.pairwise_f1"] = f1["f1"]
    run.check("pairwise_f1 >= 0.99", f1["f1"] >= 0.99, f1)
    run.check(
        "(url, entity_key) fingerprint identical across repetitions",
        len(set(fingerprints)) == 1,
        fingerprints,
    )
    if run.tracing:
        _er_layer_facts(run, pipe, out, truth, warehouse)
        stream_phase(run)


def _er_layer_facts(run: Run, pipe, out, truth, warehouse: str) -> None:
    """Data-level counters of the last traced pipeline run (their jobs
    run with tracing paused, after the measured window)."""
    from pyspark.sql import functions as F

    from rlr_spark import LABEL_MATCH

    manifest = pipe.read_manifest("pairs")
    cands = int(manifest["rows"])
    matches = out["score"].where(F.col("rlr_label") == LABEL_MATCH).count()
    quality = pipe.evaluate(truth)["blocking"].collect()[0]
    run.facts.update(
        {
            "blocking.candidate_pairs": cands,
            "blocking.dropped_rows": sum(s["n_dropped_rows"] for s in manifest["block_stats"]),
            "blocking.match_yield": matches / cands if cands else 0.0,
            "blocking.pairs_completeness": float(quality.pairs_completeness),
            "cluster.match_edges": matches,
            "cluster.entities": out["cluster"].select("entity_id").distinct().count(),
            # connected_components finishes on the driver up to 8M edges
            "cluster.local_path": 1.0 if matches <= 8_000_000 else 0.0,
            "catalog.bytes_written_mb": _dir_stats(warehouse)[1],
        }
    )


def stream_phase(run: Run) -> None:
    """Incremental ER: micro-batches through ``incremental_neardup_stream``
    into an ``EntityState``. Batch 0 warms up untraced; then, with the
    query stopped, one state and one alias compaction; then the
    remaining batches."""
    from pyspark.sql import functions as F

    import rlr_spark.operators.blocking as blocking
    from rlr_spark.streaming import ingest
    from rlr_spark.streaming.entities import EntityState

    spark, tr = run.spark, run.tracer
    # the stream's blocking work is ingest work: blocking.* stays per
    # pipeline run
    tr.wrap(blocking, "block_pairs_lr", "ingest")
    tr.wrap(blocking, "lsh_band_keys", "ingest")
    tr.wrap(ingest, "compact_state", "ingest")
    tr.wrap(EntityState, "update", "entities")
    tr.wrap(EntityState, "compact_aliases", "entities")

    batches, _ = inputs.stream_batches(
        run.cache_dir, run.root, STREAM_PAGES, STREAM_BATCHES, run.seed
    )
    base = os.path.join(run.work_dir, "stream")
    src, work, ents_dir = (os.path.join(base, d) for d in ("src", "work", "ents"))
    os.makedirs(src)
    ents = EntityState(spark, ents_dir, buckets=STREAM_BUCKETS)

    def start():
        return ingest.incremental_neardup_stream(
            spark, src, work, jaccard_threshold=0.8, shingle_k=3, bands=16,
            rows_per_band=3, state_buckets=STREAM_BUCKETS, entity_state=ents,
        )

    walls = []
    query = start()
    try:
        for b in range(STREAM_BATCHES):
            tr.active = b > 0
            with tr.span("stream.batch", "ingest", kind="op"):
                t = time.perf_counter()
                # land the file atomically: the source ignores _-prefixed names
                tmp = os.path.join(src, f"_b{b:03d}.tmp")
                shutil.copy(os.path.join(batches, f"b{b:03d}.parquet"), tmp)
                os.replace(tmp, os.path.join(src, f"b{b:03d}.parquet"))
                query.processAllAvailable()
                wall = time.perf_counter() - t
            if b == 0:
                query.stop()
                tr.active = True
                ingest.compact_state(spark, work)
                ents.compact_aliases(1)
                query = start()
            else:
                walls.append(wall)
            tr.active = False
    finally:
        tr.active = False
        query.stop()

    row = ents.assignments().agg(
        F.count("*").alias("n"), F.countDistinct("node").alias("nodes")
    ).collect()[0]
    landed = STREAM_PAGES // STREAM_BATCHES * STREAM_BATCHES
    run.check(
        "stream: every landed page assigned to exactly one entity",
        row.n == row.nodes == landed,
        {"rows": row.n, "nodes": row.nodes, "landed": landed},
    )
    pairs = spark.read.parquet(os.path.join(work, "pairs")).count()
    files, mb = _dir_stats(work, ents_dir)
    run.samples["stream_batch_s"] = walls
    run.per_op["ingest"] = run.per_op["entities"] = len(walls)
    run.facts.update(
        {
            "ingest.pairs_per_batch": pairs / STREAM_BATCHES,
            "ingest.state_files": files,
            "ingest.state_mb": mb,
            "entities.resolve_rounds": ents.last_resolve_rounds,
        }
    )


def review_session(run: Run) -> None:
    from rlr_spark.cli import CLReviewer
    from rlr_spark.operators.review import label_counts
    from rlr_spark.sources.packet import ReviewPacket, ReviewSession

    spark, tr = run.spark, run.tracer
    if run.tracing:
        tr.wrap(CLReviewer, "render_current", "review")
        tr.wrap(
            CLReviewer,
            "process_choice",
            "review",
            name=lambda a, k: "CLReviewer.process_choice:"
            + ("label" if str(a[1]).isdigit() else "nav"),
        )

    tables, digest = inputs.review_tables(
        run.cache_dir, run.root, REVIEW_PAGES, REVIEW_PAIRS, run.seed
    )
    run.facts["input_sha256"] = digest
    packet = ReviewPacket(
        file_L=os.path.join(tables, "L.parquet"),
        file_L_ids=["l_id"],
        file_R=os.path.join(tables, "R.parquet"),
        file_R_ids=["r_id"],
        file_comps=os.path.join(tables, "pairs.parquet"),
        var_group_schema=REVIEW_SCHEMA,
        label_choices=LABEL_CHOICES,
    )
    packet_path = os.path.join(run.work_dir, "packet.json")
    saved_path = os.path.join(run.work_dir, "reviewed.parquet")
    t = time.perf_counter()
    packet.save(packet_path)
    reviewer = CLReviewer(
        ReviewSession(spark, packet),
        comp_pairs_path=saved_path,
        packet_path=packet_path,
        print_fn=lambda _text: None,
    )
    rng = np.random.RandomState(run.seed)
    scripted: Counter = Counter()
    render_s, save_s = [], []

    def action() -> None:
        choice = int(rng.randint(1, len(LABEL_CHOICES) + 1))
        t0 = time.perf_counter()
        reviewer.render_current()
        t1 = time.perf_counter()
        reviewer.process_choice(str(choice))
        t2 = time.perf_counter()
        reviewer.process_choice("n")
        scripted[LABEL_CHOICES[choice - 1]] += 1
        render_s.append(t1 - t0)
        save_s.append(t2 - t1)

    for _ in range(REVIEW_WARMUP_ACTIONS):
        action()
    del render_s[:], save_s[:]
    run.facts["session.warmup_s"] = time.perf_counter() - t
    run.end_setup()

    run.closed_loop(lambda: run.measure(action), REVIEW_MIN_OPS)
    run.records_per_op = 1
    run.per_op["review"] = len(run.op_walls)
    run.samples.update({"render_s": render_s, "label_save_s": save_s})

    got = {r["label"]: int(r["count"]) for r in label_counts(spark.read.parquet(saved_path)).collect()}
    want = dict(scripted, Unlabeled=REVIEW_PAIRS - sum(scripted.values()))
    want = {k: v for k, v in want.items() if v}
    run.check(
        "review: persisted label counts equal the scripted labels",
        got == want,
        {"got": got, "want": want},
    )


WORKLOADS = {"er_small": er_small, "review_session": review_session}
