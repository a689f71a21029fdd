"""The benchmark's workloads, its metric names, and what each layer metric
should move.

Each workload is one closed loop: a single client issues one operation at a
time, and a pass issues every operation of the workload once, in order.
"""

from __future__ import annotations

from dataclasses import dataclass

PACKAGE = "hbase_hadoop_flightsearch_spark."


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    # Run HPopulate (ingest), HCompute (report) and Secondary (direct)
    # at the start of every pass.
    reference_jobs: bool
    ops: tuple[str, ...]  # registry names, issued in this order


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="reference_sql",
            why=(
                "the reference's three jobs (the only writes and CSV parse), the "
                "namesake connection search and short warehouse SQL plans with the "
                "rank primitive"
            ),
            reference_jobs=True,
            ops=(
                "flight_connection_search",
                "join_q3_shipping_priority",
                "join_q2_min_cost_supplier",
                "agg_mann_whitney_u",
                "ts_holt_winters_additive",
                "stream_tumbling_event_counts",
            ),
        ),
        Workload(
            name="corpus_prep",
            why=(
                "LLM corpus prep: build-phase loops (near-dup pipeline, k-core), "
                "the Python UDF image hash and exact kNN; no writes"
            ),
            reference_jobs=False,
            ops=(
                "pipeline_corpus_prep_neardup",
                "dedup_image_phash",
                "similarity_knn_bruteforce",
                "graph_kcore",
            ),
        ),
    )
}

# The layer of a step is the module that owns the called function, without
# the package prefix: ``Query.fn.__module__`` for registry ops.
INGEST_LAYER = "sources.ingest"
REPORT_LAYER = "plans.delay_report"
LAYERS = (
    "sources.ingest",
    "plans.delay_report",
    "plans.pipelines",
    "operators.dedup",
    "operators.similarity",
    "operators.graph",
    "operators.joins",
    "operators.subqueries",
    "operators.aggregates",
    "operators.timeseries",
    "streaming.windows",
)
LAYER_FIELDS = (
    ("build_s", "s"),
    ("exec_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_ms", "ms"),
    ("core_util", "fraction"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("python_ms", "ms"),
)
EXTRA_LAYER_METRICS = (
    ("session.start_s", "s"),
    ("plans.registry.load_s", "s"),
    ("sources.ingest.output_mb", "MB"),
    ("sources.ingest.files_written", "count"),
    ("trace.overhead_pct", "%"),
)
PER_LAYER_METRICS = tuple(
    (f"{layer}.{name}", unit) for layer in LAYERS for name, unit in LAYER_FIELDS
) + EXTRA_LAYER_METRICS

# Printed with --trace 0 in the final JSON line: setup time, and the CPU
# seconds (driver JVM, Python driver, Python workers) of the median warm
# pass and of the cold pass. On a shared 4-core host the wall time of the
# same pass spread 0.28-0.31 (IQR / median over ten seeds), beyond any
# bound the benchmark may set, while its CPU time spread 0.08-0.10: time
# stolen by other guests is not in it. The wall pass_s and cold_pass_s are
# printed on the line before, with error_rate (failed / attempted),
# peak_rss_mb, and on reference_sql ingest_s, report_s, direct_s and
# stored_bytes_per_input_byte, none of them gated: each spreads too much,
# can read zero, or exists on one workload only.
END_TO_END_METRICS = (
    ("setup_s", "s"),
    ("pass_cpu_s", "s"),
    ("cold_pass_cpu_s", "s"),
)


def layer_of(module: str) -> str:
    return module.removeprefix(PACKAGE)


# Which end-to-end metric each layer metric should move, and on which
# workload; "no_change" is the prediction on the workload that bypasses it.
# Metrics named here but absent from END_TO_END_METRICS are printed on the
# line before the JSON result.
EXPECTED_MOVES = (
    {
        "layer_metrics": [
            "plans.pipelines.build_s", "plans.pipelines.jobs",
            "operators.graph.build_s", "operators.graph.jobs",
        ],
        "moves": {"corpus_prep": ["pass_s", "pass_cpu_s", "cold_pass_cpu_s"]},
        "no_change": {"reference_sql": "no op there runs a build-phase loop"},
        "why": "a single iteration driver cuts build-phase jobs",
    },
    {
        "layer_metrics": ["operators.dedup.python_ms"],
        "moves": {"corpus_prep": ["pass_s", "pass_cpu_s"]},
        "no_change": {"reference_sql": "layer not run; reads zero"},
    },
    {
        "layer_metrics": [
            "operators.similarity.build_s", "operators.similarity.exec_s",
        ],
        "moves": {"corpus_prep": ["pass_s", "pass_cpu_s"]},
        "no_change": {"reference_sql": "layer not run"},
        "why": "the exact kNN that ANN candidate-then-rerank is checked "
        "against; its python_ms reads zero (JVM only)",
    },
    {
        "layer_metrics": [
            "plans.delay_report.shuffle_mb", "plans.delay_report.task_ms",
        ],
        "moves": {"reference_sql": ["pass_s"]},
        "no_change": {
            "reference_sql": "report_s barely moves: the report step only "
            "aggregates, the shuffle is the connection search's banded join",
            "corpus_prep": "layer not run",
        },
    },
    {
        "layer_metrics": [
            f"{layer}.{name}"
            for layer in (
                "operators.joins", "operators.subqueries",
                "operators.aggregates", "operators.timeseries",
                "streaming.windows",
            )
            for name in ("jobs", "tasks", "core_util")
        ],
        "moves": {"reference_sql": ["pass_s", "pass_cpu_s", "cold_pass_cpu_s"]},
        "no_change": {"corpus_prep": "layers not run"},
        "why": "these plans are bound by fixed per-query cost, so fewer jobs "
        "and stages help, not less data work",
    },
    {
        "layer_metrics": [
            "sources.ingest.exec_s", "sources.ingest.output_mb",
            "stored_bytes_per_input_byte",
        ],
        "moves": {"reference_sql": ["ingest_s", "report_s", "pass_s"]},
        "no_change": {"corpus_prep": "no ingest"},
        "why": "the report re-reads bronze: a layout that writes fewer bytes "
        "can cost ingest and win report, so both are printed",
    },
    {
        "layer_metrics": ["session.start_s", "plans.registry.load_s"],
        "moves": {w: ["setup_s"] for w in WORKLOADS},
    },
    {
        "layer_metrics": [
            f"operators.aggregates.{name}" for name, _ in LAYER_FIELDS
        ],
        "moves": {"reference_sql": ["pass_s", "peak_rss_mb"]},
        "no_change": {"corpus_prep": "rank primitive not run"},
        "why": "the rank primitive's lifecycle (persisted ranged bases)",
    },
)
