"""Spans around the program's public calls, attributed to Spark work.

The benchmark wraps the layer entry points it names (module functions
and class methods) with :meth:`Tracer.wrap`; nothing in ``rlr_spark``
changes. Each span records name, layer, kind, parent, start and end
(epoch seconds, the clock Spark's event log uses) and, while open, sets
the Spark local property :data:`SPAN_PROPERTY` to its id. After the
session stops, :func:`layer_metrics` reads the session's event log and
charges every job and task to a span: the span named by the job's
property when the job was submitted inside that span, otherwise the
innermost span open at submission time (jobs of a streaming query run
on the query's own thread, which keeps the property of whichever span
was open when the query started).
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"

#: Spark-side metrics every layer reports (per operation of its workload)
SPARK_METRICS = (
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_cpu_s", "s"),
    ("task_run_s", "s"),
    ("fetch_wait_s", "s"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("gc_s", "s"),
    ("task_skew", "ratio"),
)

#: layers with the full Spark metric set plus ``call_s``
LAYERS = ("extract", "blocking", "score", "cluster", "catalog", "ingest", "entities", "review")
#: layers whose table is materialized by a ``Catalog.write`` (``exec_s``)
TABLE_LAYERS = ("extract", "blocking", "score", "cluster", "catalog")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    kind: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans are kept only while ``active``."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _swap_property(self, value: str | None) -> str | None:
        if self.spark is None:
            return None
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(SPAN_PROPERTY)
        sc.setLocalProperty(SPAN_PROPERTY, value)
        return prev

    @contextlib.contextmanager
    def span(self, name: str, layer: str, kind: str = "call"):
        if not self.active:
            yield None
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sp = Span(len(self.spans), name, layer, kind, parent, time.time())
            self.spans.append(sp)
            self._stack.append(sp.id)
        prev = self._swap_property(str(sp.id))
        try:
            yield sp
        finally:
            sp.end = time.time()
            with self._lock:
                self._stack.remove(sp.id)
            self._swap_property(prev)

    def wrap(self, owner, attr: str, layer, kind: str = "call", name=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span.

        ``layer`` and ``name`` may be callables of ``(args, kwargs)``.
        """
        orig = getattr(owner, attr)
        label = f"{owner.__name__.rsplit('.', 1)[-1]}.{attr}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            lay = layer(args, kwargs) if callable(layer) else layer
            nm = name(args, kwargs) if callable(name) else (name or label)
            with tracer.span(nm, lay, kind):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover
    (children that overlap each other are counted once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = s.duration - covered
    return out


def _owner(spans: list[Span], by_id: dict[int, Span], when: float, prop) -> Span | None:
    if prop is not None:
        s = by_id.get(int(prop))
        if s is not None and s.start <= when <= s.end:
            return s
    best = None
    for s in spans:
        if s.start <= when <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def read_event_log(path: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from a Spark JSON event log. Each job carries its
    submission time and span property; each task its stage's."""
    jobs, tasks, stages = [], [], {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(
                    {"when": ev["Submission Time"] / 1000.0, "prop": props.get(SPAN_PROPERTY)}
                )
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                props = ev.get("Properties") or {}
                stages[info["Stage ID"]] = {
                    "when": info.get("Submission Time", 0) / 1000.0,
                    "prop": props.get(SPAN_PROPERTY),
                }
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                st = stages.get(ev["Stage ID"], {"when": info["Launch Time"] / 1000.0, "prop": None})
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                tasks.append(
                    {
                        "when": st["when"],
                        "prop": st["prop"],
                        "stage": ev["Stage ID"],
                        "failed": bool(info.get("Failed")),
                        "dur_ms": max(info["Finish Time"] - info["Launch Time"], 1),
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                        "read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "write_b": sw.get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Disk Bytes Spilled", 0),
                        "records_written": out.get("Records Written", 0),
                    }
                )
    return jobs, tasks


def attribute(spans: list[Span], jobs: list[dict], tasks: list[dict]):
    """Charge jobs and tasks to spans: {span id: {"jobs": n, "tasks": [...]}}."""
    by_id = {s.id: s for s in spans}
    out: dict[int, dict] = defaultdict(lambda: {"jobs": 0, "tasks": []})
    for j in jobs:
        s = _owner(spans, by_id, j["when"], j["prop"])
        if s is not None:
            out[s.id]["jobs"] += 1
    for t in tasks:
        s = _owner(spans, by_id, t["when"], t["prop"])
        if s is not None:
            out[s.id]["tasks"].append(t)
    return out


def _skew(tasks: list[dict]) -> float:
    """max / median task time of the layer's heaviest stage."""
    by_stage: dict[int, list[dict]] = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t)
    if not by_stage:
        return 0.0
    heavy = max(by_stage.values(), key=lambda ts: sum(t["dur_ms"] for t in ts))
    durs = [t["dur_ms"] for t in heavy]
    return max(durs) / statistics.median(durs)


def layer_metrics(spans: list[Span], jobs: list[dict], tasks: list[dict], per_op: dict[str, int]):
    """Spark metrics, ``call_s`` and ``exec_s`` per layer, each divided by
    the number of operations the layer served (``per_op[layer]``)."""
    charged = attribute(spans, jobs, tasks)
    acc: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "tasks": [], "call_s": 0.0, "exec_s": 0.0})
    by_id = {s.id: s for s in spans}
    for s in spans:
        a = acc[s.layer]
        a["jobs"] += charged[s.id]["jobs"] if s.id in charged else 0
        a["tasks"] += charged[s.id]["tasks"] if s.id in charged else []
        parent = by_id.get(s.parent) if s.parent is not None else None
        nested = parent is not None and parent.layer == s.layer and parent.kind == s.kind
        if s.kind == "call" and not nested:
            a["call_s"] += s.duration
        elif s.kind == "exec" and not nested:
            a["exec_s"] += s.duration
    out: dict[str, float] = {}
    for layer in LAYERS + ("pipeline",):
        a, n = acc[layer], per_op.get(layer, 0)
        ts = a["tasks"]
        vals = {
            "jobs": a["jobs"],
            "tasks": len(ts),
            "task_cpu_s": sum(t["cpu_s"] for t in ts),
            "task_run_s": sum(t["run_s"] for t in ts),
            "fetch_wait_s": sum(t["fetch_wait_s"] for t in ts),
            "shuffle_read_mb": sum(t["read_b"] for t in ts) / 1e6,
            "shuffle_write_mb": sum(t["write_b"] for t in ts) / 1e6,
            "spill_mb": sum(t["spill_b"] for t in ts) / 1e6,
            "gc_s": sum(t["gc_s"] for t in ts),
            "call_s": a["call_s"],
            "exec_s": a["exec_s"],
        }
        for k, v in vals.items():
            out[f"{layer}.{k}"] = v / n if n else 0.0
        out[f"{layer}.task_skew"] = _skew(ts) if n else 0.0
    out["spark.failed_tasks"] = float(sum(t["failed"] for t in tasks))
    return out, charged


#: layer-specific metrics (name, unit), measured by the workloads
EXTRA_METRICS = (
    ("extract.pages_per_s", "1/s"),
    ("blocking.candidate_pairs", "count"),
    ("blocking.dropped_rows", "count"),
    ("blocking.match_yield", "ratio"),
    ("blocking.pairs_completeness", "ratio"),
    ("score.pairs_per_s", "1/s"),
    ("cluster.match_edges", "count"),
    ("cluster.entities", "count"),
    ("cluster.local_path", "count"),
    ("cluster.pairwise_f1", "ratio"),
    ("catalog.read_jobs", "count"),
    ("catalog.read_s", "s"),
    ("catalog.bytes_written_mb", "MB"),
    ("pipeline.self_s", "s"),
    ("ingest.jobs_per_batch", "count"),
    ("ingest.pairs_per_batch", "count"),
    ("ingest.state_files", "count"),
    ("ingest.state_mb", "MB"),
    ("ingest.compact_s", "s"),
    ("entities.update_s", "s"),
    ("entities.resolve_rounds", "count"),
    ("entities.compact_s", "s"),
    ("review.render_s", "s"),
    ("review.label_save_s", "s"),
    ("review.render_jobs", "count"),
    ("review.save_jobs", "count"),
    ("review.rows_written_per_label", "count"),
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("trace.op_s_p50", "s"),
    ("trace.op_cpu_s", "s"),
    ("spark.failed_tasks", "count"),
)


def per_layer_schema() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    names = []
    for layer in LAYERS:
        names += [(f"{layer}.{m}", u) for m, u in SPARK_METRICS]
        names.append((f"{layer}.call_s", "s"))
        if layer in TABLE_LAYERS:
            names.append((f"{layer}.exec_s", "s"))
    names += [("pipeline.jobs", "count"), ("pipeline.task_run_s", "s")]
    return names + list(EXTRA_METRICS)
