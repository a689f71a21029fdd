"""Self-tests of the benchmark that need no Spark session.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np

from perfbench import inputs, spans, workloads

REPO = Path(__file__).resolve().parents[2]
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())


def test_metric_names_match_benchmark_json():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == list(
        workloads.END_TO_END_METRICS
    )
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == list(
        workloads.PER_LAYER_METRICS
    )
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert [w["why"] for w in SPEC["workloads"]] == [
        w.why for w in workloads.WORKLOADS.values()
    ]


def test_every_layer_is_measured_on_some_workload():
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all

    registry = load_all()
    seen = set()
    for w in workloads.WORKLOADS.values():
        if w.reference_jobs:
            seen |= {workloads.INGEST_LAYER, workloads.REPORT_LAYER}
        seen |= {workloads.layer_of(registry[n].fn.__module__) for n in w.ops}
    assert seen == set(workloads.LAYERS)


def test_expected_moves_name_known_metrics_and_workloads():
    layer_names = {n for n, _ in workloads.PER_LAYER_METRICS}
    printed_only = {
        "stored_bytes_per_input_byte", "ingest_s", "report_s", "peak_rss_mb",
        "cold_pass_s", "pass_s",
    }
    e2e = {n for n, _ in workloads.END_TO_END_METRICS} | printed_only
    for entry in workloads.EXPECTED_MOVES:
        assert set(entry["layer_metrics"]) <= layer_names | printed_only
        for w, metrics in entry["moves"].items():
            assert w in workloads.WORKLOADS
            assert set(metrics) <= e2e
        assert set(entry.get("no_change", {})) <= set(workloads.WORKLOADS)


def _event(kind, **fields):
    return json.dumps({"Event": kind, **fields})


def test_fold_event_log_fixture(tmp_path):
    def task(stage, run_ms, shuffle=0, spill=0, python_ms=None):
        accs = [] if python_ms is None else [
            {"Name": spans.PYTHON_RUN_METRIC, "Update": str(python_ms)}
        ]
        return _event(
            "SparkListenerTaskEnd", **{
                "Stage ID": stage, "Stage Attempt ID": 0,
                "Task Info": {"Accumulables": accs},
                "Task Metrics": {
                    "Executor Run Time": run_ms,
                    "Disk Bytes Spilled": spill,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                },
            })

    def job(group):
        props = {} if group is None else {"spark.jobGroup.id": group}
        return _event("SparkListenerJobStart", Properties=props)

    def stage(sid, group):
        props = {} if group is None else {"spark.jobGroup.id": group}
        return _event("SparkListenerStageSubmitted", Properties=props, **{
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0}})

    log = tmp_path / "local-1"
    log.write_text("\n".join([
        job("a"), stage(0, "a"), task(0, 10, shuffle=1000), task(0, 20),
        stage(1, "a"), task(1, 5, spill=300, python_ms=4),
        job("b"), job("b"), stage(2, "b"), task(2, 7, python_ms=3),
        task(2, 1, python_ms=2),
        job(None), stage(3, None), task(3, 100),
    ]) + "\n")
    folded = spans.fold_event_log(log)
    a, b, none = folded["a"], folded["b"], folded[None]
    assert (a.jobs, a.tasks, a.task_ms) == (1, 3, 35)
    assert (a.shuffle_bytes, a.spill_bytes, a.python_ms) == (1000, 300, 4)
    assert (b.jobs, b.tasks, b.task_ms, b.python_ms) == (2, 2, 8, 5)
    assert (none.jobs, none.tasks) == (1, 1)


def test_tracer_nests_spans():
    t = spans.Tracer("r")
    with t.span("pass"):
        with t.span("op", layer="x"):
            with t.span("build"):
                pass
    p, op, build = t.spans
    assert (p.parent, op.parent, build.parent) == (None, p.id, op.id)
    assert {s.run_id for s in t.spans} == {"r"}
    assert all(s.end >= s.start for s in t.spans)


def test_seed_changes_inputs_not_op_lists(tmp_path):
    ops = {n: w.ops for n, w in workloads.WORKLOADS.items()}
    a = inputs.make_bts_csv(tmp_path / "a", 1, n=2000)
    b = inputs.make_bts_csv(tmp_path / "b", 2, n=2000)
    a2 = inputs.make_bts_csv(tmp_path / "a2", 1, n=2000)
    assert a.path.read_bytes() == a2.path.read_bytes()
    assert a.path.read_bytes() != b.path.read_bytes()
    assert a.report != b.report
    inputs.make_corpus(REPO, tmp_path / "c1", 1)
    inputs.make_corpus(REPO, tmp_path / "c2", 2)
    lineitem = "lineitem.parquet"
    assert (tmp_path / "c1" / lineitem).read_bytes() != (
        tmp_path / "c2" / lineitem).read_bytes()
    assert ops == {n: w.ops for n, w in workloads.WORKLOADS.items()}


def test_bts_lines_have_enough_positional_fields(tmp_path):
    csv = inputs.make_bts_csv(tmp_path, 5, n=50)
    lines = csv.path.read_text().splitlines()
    assert len(lines) == csv.n_lines == 50
    # one quoted field holds a comma, so a naive split gives one more field
    assert all(len(line.split(",")) == inputs.BTS_FIELDS + 1 for line in lines)


def test_expected_report_keeps_the_reference_quirks():
    cols = {
        "year": np.array([2008, 2008, 2008, 2007, 2008, 2008]),
        "month": np.array([1, 1, 2, 3, 4, 4]),
        "carrier": np.array([0, 0, 0, 0, 0, 0]),
        "cancelled": np.array([False, False, False, False, True, False]),
        "diverted": np.array([False, False, False, False, False, True]),
        "delay": np.array([3, 3, 4, 50, 90, 90]),
    }
    report = inputs.expected_report(cols)
    # avg 3.0 prints 4 (floor + 1); the 2007-only, cancelled-only and
    # diverted-only months print 0
    assert report == (
        "AIR-AA\t, (1,4), (2,5), (3,0), (4,0), (5,0), (6,0), (7,0), (8,0), "
        "(9,0), (10,0), (11,0), (12,0)\n"
    )


def test_fails_without_the_program(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(REPO / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_prep",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
