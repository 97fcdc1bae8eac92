"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

None of them starts Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import inputs, run, stats
from perfbench.trace import Span, attribute, per_layer_schema, self_times
from perfbench.workloads import WORKLOADS, Run, tree_cpu_s

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_names_match_what_the_run_reports(spec):
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    dummy = Run(
        None, ROOT, "", "", 1, 1.0, None, 0.0,
        setup_cpu_s=7.0, op_walls=[9.0, 9.0], op_cpus=[1.0, 3.0], records_per_op=10,
        samples={"op_jobs": [40, 42, 41], "op_tasks": [300, 100, 200]},
    )
    e2e = run._end_to_end(dummy)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [(k, u) for k, (_, u) in e2e.items()]
    assert e2e["spark_jobs_per_op"][0] == 41 and e2e["spark_tasks_per_op"][0] == 200
    assert e2e["setup_s"][0] == 7.0
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == per_layer_schema()


def test_spec_bounds(spec):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["better"] in ("higher", "lower")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names)) and len(spec["per_layer"]) <= 128


def test_tree_cpu_counts_children_and_reaped_grandchildren():
    # a child that burns CPU in a grandchild it waits for, then exits:
    # the time must still be in this process tree's total
    burn = (
        "import os,time\n"
        "if os.fork()==0:\n"
        " t=time.process_time()\n"
        " while time.process_time()-t<0.3: pass\n"
        " os._exit(0)\n"
        "os.wait()\n"
    )
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert tree_cpu_s() - before >= 0.25


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "run", "pipeline", "op", None, 0.0, 10.0),
        Span(1, "a", "blocking", "call", 0, 1.0, 3.0),
        Span(2, "b", "catalog", "call", 0, 2.0, 5.0),  # overlaps a
        Span(3, "c", "score", "call", 0, 7.0, 8.0),
        Span(4, "d", "catalog", "call", 1, 1.5, 2.0),  # grandchild
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0))
    assert st[1] == pytest.approx(2.0 - 0.5)
    assert st[2] == pytest.approx(3.0) and st[4] == pytest.approx(0.5)


def test_jobs_go_to_their_span_or_the_innermost_open_one():
    spans = [
        Span(0, "batch", "ingest", "op", None, 0.0, 10.0),
        Span(1, "update", "entities", "call", 0, 2.0, 4.0),
    ]
    jobs = [
        {"when": 3.0, "prop": None},  # no property: innermost open span
        {"when": 3.0, "prop": "0"},  # property names an open span
        {"when": 9.0, "prop": "1"},  # stale property: time decides
        {"when": 11.0, "prop": None},  # outside every span
    ]
    charged = attribute(spans, jobs, [])
    assert charged[1]["jobs"] == 1 and charged[0]["jobs"] == 2


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail([1.0] * 19)["percentile"] is None
    assert "omitted" in stats.tail([1.0] * 19)
    assert stats.tail(list(range(20)))["percentile"] == 50.0
    t = stats.tail([float(i) for i in range(1, 101)])
    assert (t["percentile"], t["value"]) == (90.0, 90.0)
    assert stats.tail(list(range(1000)))["percentile"] == 99.0


def test_same_seed_same_input_hash(tmp_path):
    a, da = inputs.web_corpus(str(tmp_path / "a"), ROOT, 50, 3)
    _, db = inputs.web_corpus(str(tmp_path / "b"), ROOT, 50, 3)
    _, dc = inputs.web_corpus(str(tmp_path / "c"), ROOT, 50, 4)
    assert da == db != dc
    # a damaged cached file is caught by the hash and rebuilt, not timed
    with open(os.path.join(a, "web_pages.parquet"), "r+b") as f:
        f.truncate(100)
    again, dd = inputs.web_corpus(str(tmp_path / "a"), ROOT, 50, 3)
    assert again == a and dd == da == inputs.files_digest(a)
