#!/usr/bin/env python
"""Benchmark harness: times every headline registry query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
(default: every core) and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed with the `noop` writer so the full plan (scan ->
compute -> exchange) runs distributed without driver-side collect overhead.
Median of BENCH_RUNS (default 3) warm runs per query after one JVM-warmup
pass of the flagship.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hbase_hadoop_flightsearch_spark.plans.registry import load_all
from hbase_hadoop_flightsearch_spark.session import get_spark


# Per-seat conf pins for the TIMED runs only (VERDICT r9 #5): the
# connection seat's banded SortMergeJoin was re-planned by AQE partition
# coalescing every run, giving a 1.2-2.3 s spread on identical code — a
# noise band wider than the 2x regression bar is worth. With coalescing
# pinned off for this seat the measured spread is 1.38-1.53 s (+-5%,
# median unchanged), so the seat regains regression-detection value.
# Correctness never depends on these knobs (the whole corpus is swept
# with AQE fully off — SCALE.md robustness sweeps).
PINNED_CONFS: dict[str, dict[str, str]] = {
    "flight_connection_search": {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    },
    # Hour-band twin (bench seat since r12, VERDICT r11 #5): same banded
    # SortMergeJoin plan family as the day-band seat, so it inherits the
    # same AQE-coalesce re-plan noise and the same pin.
    "flight_connection_search_hourband": {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    },
}

# Seats whose BASELINE.md pin is < 1 s (VERDICT r14 #3). A sub-second pin
# amplifies ~0.3-0.5 s of fixed JVM/scheduling overhead into the suite's
# largest-looking ratio on any contended day (agg_q1: r13 1.74x, r14
# 2.83x — byte-identical code both times, 0.5-0.6 s absolute). BASELINE.md
# "Sub-second-seat adjudication rule": these seats are flagged ONLY if
# the reading is BOTH > 2x the pin AND > 0.5 s above it in absolute
# terms; the quiet-box tie-breaker is unchanged. Emitted in the artifact
# (subsecond_rule / subsecond_pins) so each BENCH_r{N}.json carries its
# own adjudication key.
SUB_SECOND_PINS: dict[str, float] = {
    "agg_q1_pricing_summary": 0.35,
    "flight_otp_ranking": 0.47,
    "ts_holt_winters_additive": 0.51,
    "stream_tumbling_event_counts": 0.52,
    # r16 re-pin (BASELINE.md): the r15 widen+codec-memo optimization
    # moved this seat from 2.80 to ~0.55, so it joins the sub-second rule.
    "multimodal_jpeg_pixel_stats": 0.55,
    "similarity_knn_bruteforce": 0.88,
    "flight_delay_report": 0.97,
}


def time_query(spark, q, sf_dir: str, runs: int) -> float:
    pins = PINNED_CONFS.get(q.name, {})
    for k, v in pins.items():
        spark.conf.set(k, v)
    try:
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        return statistics.median(samples)
    finally:
        for k in pins:
            spark.conf.unset(k)


def compile_counters(spark) -> tuple[int, int]:
    """(Janino compiles, HotSpot JIT compile ms) so far in the driver JVM;
    in local mode the executors run in it too."""
    jvm = spark._jvm
    return (
        jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount(),
        jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        .getTotalCompilationTime(),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or 0.1)

    # Box-load indicator (VERDICT r3 #7): r2's suite reading was misread
    # as a plan regression when it was driver-box load. Recording 1-min
    # loadavg before/after lets a reader adjudicate load vs regression
    # from the artifact alone (32 hardware threads here; loadavg >> n_cpus
    # during the run means the timings are contended).
    load_before = os.getloadavg()[0]

    def _cpu_ticks() -> tuple[int, int]:
        """(busy, steal) jiffies from /proc/stat. Guest loadavg is blind
        to HOST contention: on 2026-08-15 a quiet guest (loadavg 0.3)
        measured 20% of busy cycles stolen by the hypervisor and every
        seat read 20-40% over its pin with the PIN-ERA CODE (interleaved
        A/B) — steal share is the indicator that adjudicates such a day
        from the artifact alone."""
        try:
            v = list(map(int, open("/proc/stat").readline().split()[1:]))
            return v[0] + v[2], v[7]
        except (OSError, ValueError, IndexError):
            return 0, 0

    busy0, steal0 = _cpu_ticks()

    spark = get_spark(app_name="bench")
    registry = load_all()
    headline = [q for q in registry.values() if q.headline]

    # JVM / whole-stage-codegen warmup: one untimed pass of EVERY headline
    # query compiles and loads each seat's generated classes before the
    # timed runs (a cold JVM read ~5x on the heavier queries). The timed
    # runs reuse them only because get_spark sizes the codegen cache above
    # the suite's distinct classes: under Spark's default of 100 entries
    # the later seats evicted the earlier seats' classes, which were then
    # recompiled inside their timed runs. janino_compiles and
    # jit_compile_ms report, per seat, the compiling left in its timed runs.
    for q in headline:
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Load guard (VERDICT r5 #6): the two queries whose hot stage is
    # Python-side codec/CC work are the most sensitive to a contended box
    # (their pins were taken at loadavg ~1-2; readings at loadavg 6+ drift
    # ~6%). On a loaded box, take median-of-5 for those so BENCH_r{N}
    # stays adjudicable against the 2x bar without a quiet-box re-run.
    PY_STAGE = {"dedup_image_phash", "pipeline_corpus_prep_neardup"}
    loaded_box = load_before > 4.0
    if loaded_box:
        print(
            f"bench: loadavg_1m {load_before:.2f} > 4 — contended box; "
            f"using median-of-{max(runs, 5)} for {sorted(PY_STAGE)}",
            file=sys.stderr,
        )

    timings: dict[str, float] = {}
    janino_compiles: dict[str, int] = {}
    jit_compile_ms: dict[str, int] = {}
    for q in headline:
        q_runs = max(runs, 5) if (loaded_box and q.name in PY_STAGE) else runs
        compiles0, jit0 = compile_counters(spark)
        timings[q.name] = round(time_query(spark, q, sf_dir, q_runs), 4)
        compiles1, jit1 = compile_counters(spark)
        janino_compiles[q.name] = compiles1 - compiles0
        jit_compile_ms[q.name] = jit1 - jit0

    total = round(sum(timings.values()), 4)
    load_after = os.getloadavg()[0]
    busy1, steal1 = _cpu_ticks()
    db, ds = busy1 - busy0, steal1 - steal0
    steal_pct_busy = round(100.0 * ds / (db + ds), 2) if (db + ds) else 0.0
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "loadavg_1m_before": round(load_before, 2),
                "loadavg_1m_after": round(load_after, 2),
                # Effective cores the timed session actually ran on
                # (VERDICT r15 #8: the c8 scaling artifact previously
                # reported machine CPUs here); machine_cpus keeps the
                # hardware count for load/steal adjudication.
                "n_cpus": spark.sparkContext.defaultParallelism,
                "machine_cpus": os.cpu_count(),
                "steal_pct_busy": steal_pct_busy,
                "loaded_box_medians": sorted(PY_STAGE)
                if loaded_box
                else [],
                "subsecond_rule": (
                    "seats in subsecond_pins are flagged only if reading "
                    "> 2x pin AND > pin + 0.5s absolute (BASELINE.md "
                    "sub-second-seat adjudication rule, r15)"
                ),
                "subsecond_pins": SUB_SECOND_PINS,
                # Summed over each seat's timed runs (not a median).
                "janino_compiles": janino_compiles,
                "jit_compile_ms": jit_compile_ms,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
