#!/usr/bin/env python3
"""Seeded benchmark of the flight-search engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The seed makes the inputs (a query corpus and
a BTS CSV); one client then issues the workload's operations one at a time
on ``local[nproc]``, in this process:

* setup: ``get_spark`` + ``load_all``, timed in this fresh process;
* the cold pass, the first in the process; each result is checked right
  after it ran, untimed, against the registry's DuckDB oracle or, for the
  reference jobs, against a report computed from the generator's arrays;
* warm passes until ``--seconds`` have gone by; every warm result is
  checked again (row counts, report text, bronze row count).

Each step is split into a build phase (the call that returns a DataFrame)
and an exec phase (a ``noop`` write, or the job's own write). ``--trace 1``
is a separate run: between untraced warm passes it runs a session with the
uncompressed event log on, tags every span as a Spark job group, runs
traced warm passes and folds the log into per-layer metrics.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it holds the
samples behind them, nproc, the host steal share and ``printed_metrics``:
the metrics that are not gated, each with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import replace
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from perfbench import inputs, spans, workloads  # noqa: E402

PACKAGE_DIR = REPO / "hbase_hadoop_flightsearch_spark"
GENERATOR = REPO / "tools" / "gen_altseed.py"
ORACLES = REPO / "tests" / "oracle_utils.py"
WORK_ROOT = REPO / ".perfbench_work"
DRIVER_MEMORY = "2g"
MIN_WARM_PASSES = 2
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",  # zstandard is not installed
    "spark.eventLog.rolling.enabled": "false",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def process_tree(pid: int) -> list[int]:
    """``pid`` and its live descendants."""
    found, stack = [], [pid]
    while stack:
        p = stack.pop()
        found.append(p)
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue  # the process exited meanwhile
        for task in tasks:
            try:
                with open(f"/proc/{p}/task/{task}/children") as f:
                    stack += [int(c) for c in f.read().split()]
            except FileNotFoundError:
                continue  # the thread exited meanwhile
    return found


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` and its live descendants, and of the children
    they reaped: the driver JVM, the Python driver and the Python workers.

    Stolen time is not in it, so it moves less than wall time on a host
    whose neighbours take CPU from this one.
    """
    ticks = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: Path) -> dict[str, str]:
    """Pin the Spark environment here, not in the program.

    Python workers import the package through PYTHONPATH from any working
    directory; scratch space, the warehouse, the event log and the
    generated inputs live in ``work``. Returns the Spark conf of the run.
    """
    for sub in ("local", "tmp", "warehouse", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    path = [str(REPO)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    cpus = str(nproc())
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(path),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_SHUFFLE": cpus,
            "SPARK_LOCAL_DIRS": str(work / "local"),
            "TMPDIR": str(work / "tmp"),
            "SWEEP_ORACLE_TIER": "scale",  # oracle_scale where present
        }
    )
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.eventLog.dir": str(work / "events"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        ),
    }


def start_spark(conf: dict[str, str], traced: bool = False):
    from hbase_hadoop_flightsearch_spark.session import get_spark

    extra = dict(conf, **EVENT_LOG_CONF) if traced else conf
    return get_spark(
        app_name="perfbench", master=f"local[{nproc()}]", extra_conf=extra
    )


def close_spark(spark) -> None:
    """Stop the session; wait for the driver JVM and its Python workers."""
    gateway = spark.sparkContext._gateway
    started = process_tree(gateway.proc.pid)
    spark.stop()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {started}")
        time.sleep(0.05)


def peak_rss_mb(spark) -> float:
    """Driver JVM VmHWM plus the Python driver's max RSS."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def read_text_output(path: Path) -> str:
    """The lines of a text output directory, sorted, as one string."""
    lines: list[str] = []
    for part in sorted(path.iterdir()):
        if part.is_file() and not part.name.startswith(("_", ".")):
            lines += part.read_text().splitlines()
    return "".join(line + "\n" for line in sorted(lines))


def parquet_stats(path: Path) -> tuple[int, int, int]:
    """(rows, bytes, files) of a hive-partitioned parquet directory."""
    import pyarrow.dataset as ds

    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    rows = ds.dataset(str(path), format="parquet", partitioning="hive").count_rows()
    return rows, sum(p.stat().st_size for p in files), len(files)


class Runner:
    """Issues one workload's operations, one at a time, and checks them."""

    def __init__(self, spark, registry, workload, corpus: Path,
                 bts: inputs.BtsCsv | None, work: Path, tracer: spans.Tracer):
        self.spark = spark
        self.registry = registry
        self.workload = workload
        self.corpus = str(corpus)
        self.bts = bts
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.expected_rows: dict[str, int] = {}
        self.ingest_output: list[tuple[int, int]] = []  # (bytes, files)
        self.n_passes = 0

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        print(f"FAILED {what}: {why}", file=sys.stderr)

    def _step(self, layer: str, name: str, build, execute):
        """Time build() then execute(built); (built, result) or (None, None)."""
        self.attempted += 1
        with self.tracer.span(name, layer=layer) as op:
            cpu0 = tree_cpu_s(os.getpid())
            try:
                with self.tracer.span("build", layer=layer):
                    t0 = time.perf_counter()
                    built = build()
                    t1 = time.perf_counter()
                with self.tracer.span("exec", layer=layer):
                    result = execute(built)
                    t2 = time.perf_counter()
            except Exception:  # an op that raises counts as failed
                self.fail(name, traceback.format_exc(limit=3))
                return None, None
            op.attrs.update(build_s=t1 - t0, exec_s=t2 - t1,
                            cpu_s=tree_cpu_s(os.getpid()) - cpu0)
        return built, result

    def _registry_op(self, name: str, cold: bool) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        q = self.registry[name]

        def execute(df):
            obs = Observation(name)
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                "noop"
            ).mode("overwrite").save()
            return obs.get["rows"]

        df, rows = self._step(
            workloads.layer_of(q.fn.__module__), name,
            lambda: q.fn(self.spark, self.corpus), execute,
        )
        if df is None:
            return
        if cold:
            self.expected_rows[name] = rows
            self._check_oracle(q, df)
        elif rows != self.expected_rows.get(name):
            self.fail(name, f"{rows} rows, the checked pass had "
                      f"{self.expected_rows.get(name)}")

    def _check_oracle(self, q, df) -> None:
        """Compare a cold-pass result with its DuckDB oracle, untimed.

        Runs before the next op is built: comparing also drops the rank
        primitive's pinned bases, and a frame built earlier whose bases
        were dropped re-samples its range bounds and can read wrong.
        """
        from tests.oracle_utils import compare_query_to_oracle

        try:
            compare_query_to_oracle(
                self.spark, replace(q, fn=lambda _s, _d: df), self.corpus
            )
        except Exception:  # a mismatch or a failed replay counts as failed
            self.fail(q.name, "oracle: " + traceback.format_exc(limit=2))

    def _reference_jobs(self, index: int) -> None:
        from pyspark.sql import functions as F

        from hbase_hadoop_flightsearch_spark.plans.delay_report import (
            delay_report_from,
            format_report,
        )
        from hbase_hadoop_flightsearch_spark.sources.ingest import (
            flights_from_lines,
            ingest_flights,
            read_bronze,
            read_bts_csv,
            write_report_text,
        )

        spark, csv = self.spark, str(self.bts.path)
        # A fresh directory every pass: ingest_flights defaults to
        # mode="ignore", which writes nothing into an existing table.
        bronze = self.work / f"bronze-{index}"
        report_dir = self.work / f"report-{index}"
        direct_dir = self.work / f"direct-{index}"

        _, done = self._step(
            workloads.INGEST_LAYER, "ingest", lambda: None,
            lambda _: ingest_flights(spark, csv, str(bronze)) or True,
        )
        if done:
            rows, nbytes, nfiles = parquet_stats(bronze)
            self.ingest_output.append((nbytes, nfiles))
            if rows != self.bts.n_lines:
                self.fail("ingest", f"bronze has {rows} rows, the CSV "
                          f"{self.bts.n_lines} lines")

        def report():  # HCompute: prune bronze to 2008, re-parse raw_line
            fl = flights_from_lines(
                read_bronze(spark, str(bronze))
                .filter(F.col("year") == 2008)
                .select("raw_line")
            )
            return format_report(delay_report_from(fl))

        def direct():  # Secondary: CSV straight to the report
            return format_report(delay_report_from(read_bts_csv(spark, csv)))

        texts = {}
        for name, build, out in (
            ("report", report, report_dir),
            ("direct", direct, direct_dir),
        ):
            _, done = self._step(
                workloads.REPORT_LAYER, name, build,
                lambda df, out=out: write_report_text(df, str(out)) or True,
            )
            if done:
                texts[name] = read_text_output(out)
                if texts[name] != self.bts.report:
                    self.fail(name, "report text differs from the expected report")
        if len(texts) == 2 and texts["report"] != texts["direct"]:
            self.fail("direct", "report and direct disagree")
        for d in (bronze, report_dir, direct_dir):
            shutil.rmtree(d, ignore_errors=True)

    def run_pass(self, cold: bool = False, **attrs) -> spans.Span:
        """One pass; its span carries the summed wall (``pass_s``) and CPU
        (``cpu_s``) time of its steps, checks left out."""
        index = self.n_passes
        self.n_passes += 1
        with self.tracer.span("pass", index=index, cold=cold, **attrs) as p:
            if self.workload.reference_jobs:
                self._reference_jobs(index)
            for name in self.workload.ops:
                self._registry_op(name, cold)
        steps = [s for s in self.tracer.spans
                 if s.parent == p.id and "cpu_s" in s.attrs]
        p.attrs["pass_s"] = sum(s.attrs["build_s"] + s.attrs["exec_s"] for s in steps)
        p.attrs["cpu_s"] = sum(s.attrs["cpu_s"] for s in steps)
        p.attrs["steps"] = {s.name: s.attrs["build_s"] + s.attrs["exec_s"] for s in steps}
        return p

    def warm_loop(self, seconds: float, **attrs) -> list[spans.Span]:
        """Warm passes until ``seconds`` have gone by, at least
        ``MIN_WARM_PASSES`` so that a median is never of a single pass."""
        passes = []
        deadline = time.perf_counter() + seconds
        while len(passes) < MIN_WARM_PASSES or time.perf_counter() < deadline:
            passes.append(self.run_pass(**attrs))
        return passes


def median_of(passes: list[spans.Span], key: str) -> float:
    return statistics.median(p.attrs[key] for p in passes)


def percentile_note(n: int) -> str:
    """The highest percentile with at least ten samples beyond it."""
    return f"p{int(100 * (1 - 10 / n))}" if n >= 20 else "median only (n < 20)"


def layer_metrics(tracer: spans.Tracer, passes: set[str], folded, cores: int):
    """Per-layer metrics per traced pass, from the spans and the log fold.

    Returns (metrics, jobs whose group is no span of those passes).
    """
    by_id = {s.id: s for s in tracer.spans}

    def pass_of(span: spans.Span | None) -> str | None:
        while span is not None and span.name != "pass":
            span = by_id.get(span.parent)
        return span.id if span else None

    acc = {
        layer: dict.fromkeys(
            ("build_s", "exec_s", "jobs", "tasks", "task_ms", "shuffle_mb",
             "spill_mb", "python_ms"), 0.0)
        for layer in workloads.LAYERS
    }
    stray_jobs = 0
    for group, g in folded.items():
        s = by_id.get(group)
        if s is not None and pass_of(s) not in passes:
            continue  # another pass: the cold, untraced or re-warm ones
        if s is None or "layer" not in s.attrs:
            stray_jobs += g.jobs
            continue
        a = acc[s.attrs["layer"]]
        a["jobs"] += g.jobs
        a["tasks"] += g.tasks
        a["task_ms"] += g.task_ms
        a["shuffle_mb"] += g.shuffle_bytes / 1e6
        a["spill_mb"] += g.spill_bytes / 1e6
        a["python_ms"] += g.python_ms
    for s in tracer.spans:
        if s.name in ("build", "exec") and pass_of(s) in passes:
            acc[s.attrs["layer"]][f"{s.name}_s"] += s.end - s.start
    out = {}
    for layer, a in acc.items():
        a = {k: v / len(passes) for k, v in a.items()}
        busy = a["build_s"] + a["exec_s"]
        a["core_util"] = a["task_ms"] / (busy * 1000 * cores) if busy else 0.0
        for name, _ in workloads.LAYER_FIELDS:
            out[f"{layer}.{name}"] = a[name]
    return out, stray_jobs


def run(args) -> tuple[dict, dict]:
    """One run; returns (result line, info line)."""
    workload = workloads.WORKLOADS[args.workload]
    cores = nproc()
    run_id = f"{workload.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    WORK_ROOT.mkdir(exist_ok=True)
    work = WORK_ROOT / run_id
    conf = pin_environment(work)
    busy0, steal0 = cpu_jiffies()
    try:
        corpus = work / "corpus"
        inputs.make_corpus(REPO, corpus, args.seed)
        bts = (inputs.make_bts_csv(work / "bts", args.seed)
               if workload.reference_jobs else None)

        t0 = time.perf_counter()
        spark = start_spark(conf)
        t1 = time.perf_counter()
        from hbase_hadoop_flightsearch_spark.plans.registry import load_all

        registry = load_all()
        start_s, load_s = t1 - t0, time.perf_counter() - t1

        tracer = spans.Tracer(run_id)
        runner = Runner(spark, registry, workload, corpus, bts, work, tracer)
        info = {"workload": workload.name, "seed": args.seed, "nproc": cores}
        try:
            cold = runner.run_pass(cold=True)
            if args.trace:
                # Untraced, traced, untraced again: sessions in one JVM, so
                # that the traced passes sit between untraced ones on the
                # JVM's warm-up curve. A new session's first pass re-warms
                # it and counts nowhere.
                untraced = runner.warm_loop(args.seconds / 3)
                for traced_session in (True, False):
                    spark.stop()
                    spark = runner.spark = start_spark(conf, traced=traced_session)
                    tracer.tag_jobs(spark.sparkContext if traced_session else None)
                    runner.run_pass(phase="rewarm")
                    if traced_session:
                        app_id = spark.sparkContext.applicationId
                        traced = runner.warm_loop(args.seconds / 3, phase="traced")
                    else:
                        untraced += runner.warm_loop(args.seconds / 3)
            else:
                warm = runner.warm_loop(args.seconds)
                rss = peak_rss_mb(spark)
        finally:
            close_spark(spark)

        if args.trace:
            # uncompressed and not rolled: one file named after the app
            folded = spans.fold_event_log(work / "events" / app_id)
            metrics, stray_jobs = layer_metrics(
                tracer, {p.id for p in traced}, folded, cores)
            output = runner.ingest_output or [(0, 0)]
            metrics.update({
                "session.start_s": start_s,
                "plans.registry.load_s": load_s,
                "sources.ingest.output_mb":
                    statistics.mean(b for b, _ in output) / 1e6,
                "sources.ingest.files_written":
                    statistics.mean(f for _, f in output),
                "trace.overhead_pct": 100 * (median_of(traced, "pass_s")
                                             / median_of(untraced, "pass_s") - 1),
            })
            layer_s = sum(v for k, v in metrics.items()
                          if k.endswith((".build_s", ".exec_s")))
            spans_file = WORK_ROOT / f"{run_id}.spans.jsonl"
            tracer.write(spans_file)
            info.update({
                "untraced_pass_s": [p.attrs["pass_s"] for p in untraced],
                "traced_pass_s": [p.attrs["pass_s"] for p in traced],
                "layers_account_for": layer_s / median_of(traced, "pass_s"),
                "jobs_outside_spans": stray_jobs,
                "spans_file": str(spans_file.relative_to(REPO)),
            })
            names = workloads.PER_LAYER_METRICS
            printed = {}
        else:
            metrics = {
                "setup_s": start_s + load_s,
                "pass_cpu_s": median_of(warm, "cpu_s"),
                "cold_pass_cpu_s": cold.attrs["cpu_s"],
            }
            # a step that failed has no time in its pass
            step_s = {}
            for p in warm:
                for k, v in p.attrs["steps"].items():
                    step_s.setdefault(k, []).append(v)
            step_s = {k: statistics.median(v) for k, v in step_s.items()}
            printed = {
                "pass_s": (median_of(warm, "pass_s"), "s"),
                "cold_pass_s": (cold.attrs["pass_s"], "s"),
                "peak_rss_mb": (rss, "MB"),
            }
            printed.update({f"{k}_s": (step_s[k], "s")
                            for k in ("ingest", "report", "direct") if k in step_s})
            if runner.ingest_output:
                printed["stored_bytes_per_input_byte"] = (
                    statistics.median(b for b, _ in runner.ingest_output)
                    / bts.n_bytes, "ratio")
            info.update({
                "passes": len(warm),
                "highest_percentile": percentile_note(len(warm)),
                "pass_s_samples": [p.attrs["pass_s"] for p in warm],
                "pass_cpu_s_samples": [p.attrs["cpu_s"] for p in warm],
                "step_s": step_s,
                "cold_step_s": cold.attrs["steps"],
            })
            names = workloads.END_TO_END_METRICS
        printed["error_rate"] = (runner.failed / runner.attempted, "fraction")
        busy1, steal1 = cpu_jiffies()
        info["steal_share"] = (steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0)
        info["printed_metrics"] = {
            n: {"value": v, "unit": u} for n, (v, u) in printed.items()}
        result = {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {n: {"value": metrics[n], "unit": u} for n, u in names},
        }
        return result, info
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", choices=sorted(workloads.WORKLOADS),
                        required=True)
    parser.add_argument("--seed", type=int, default=0)
    parser.add_argument("--seconds", type=float, default=10.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    missing = [p for p in (PACKAGE_DIR, GENERATOR, ORACLES) if not p.exists()]
    if missing:
        print(f"perfbench: program not found: {', '.join(map(str, missing))}",
              file=sys.stderr)
        return 2
    result, info = run(args)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
