"""Self-tests of the benchmark that start Spark (about three minutes).

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[2]
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())

# Runs in a working directory outside the repository, with no PYTHONPATH
# of its own: the benchmark's pinned environment alone must let the Python
# UDF workers import the package.
PROBE = textwrap.dedent(
    """
    import json, sys
    from pathlib import Path
    sys.path.insert(0, {repo!r})
    from perfbench import inputs, run, spans
    from tests.oracle_utils import compare_query_to_oracle

    work = Path.cwd() / "work"
    conf = run.pin_environment(work)
    inputs.make_corpus(run.REPO, work / "corpus", 1)
    spark = run.start_spark(conf, traced=True)
    out = {{}}
    try:
        from hbase_hadoop_flightsearch_spark.plans.registry import load_all

        compare_query_to_oracle(
            spark, load_all()["dedup_image_phash"], str(work / "corpus"))
        out["udf_op"] = "ok"
        tracer = spans.Tracer("t")
        tracer.tag_jobs(spark.sparkContext)
        with tracer.span("probe") as s:
            spark.sparkContext.parallelize(range(10), 3).count()
        app_id = spark.sparkContext.applicationId
    finally:
        run.close_spark(spark)
    g = spans.fold_event_log(work / "events" / app_id)[s.id]
    out["fold"] = [g.jobs, g.tasks]
    print(json.dumps(out))
    """
)


@pytest.fixture(scope="module")
def probe(tmp_path_factory):
    cwd = tmp_path_factory.mktemp("outside_repo")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", PROBE.format(repo=str(REPO))],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_python_udf_op_runs_from_a_cwd_outside_the_repo(probe):
    assert probe["udf_op"] == "ok"


def test_fold_of_a_real_event_log_counts_the_tagged_job(probe):
    assert probe["fold"] == [1, 3]  # one count() job over three partitions


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_printed_metric_names_equal_benchmark_json(trace, section):
    out = subprocess.run(
        SPEC["command"] + ["--workload", "corpus_prep", "--seed", "1",
                           "--seconds", "1", "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert [(n, m["unit"]) for n, m in result["metrics"].items()] == [
        (m["name"], m["unit"]) for m in SPEC[section]
    ]
