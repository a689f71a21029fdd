#!/usr/bin/env python
"""Spark-side-only ANSI execution sweep — the overflow detector at
scales where the DuckDB oracle replay is no longer practical.

The r12/r13 doctrine: under ANSI mode (Spark 4 default) an integer
overflow is a loud job-killing error, so simply EXECUTING every
registry plan against a larger-than-official corpus is a cheap
registry-wide detector for accumulator-growth bugs — it caught five
BIGINT-overflow expressions at the 5x corpus in r12 (all fixed, plus
two more lifted in r13). This tool runs that detector WITHOUT the
oracle: each query's DataFrame is forced through a noop sink, so the
whole plan executes distributed but nothing is collected or compared
(value-exactness is the differential sweep's job at scales DuckDB can
reach; this proves only execute-without-error plus wall time).

Same chunked-child + per-NAME watchdog skeleton as sweep_sf01.py.

Usage: python tools/exec_sweep.py [chunk_size] [sf_dir] > exec.log
       python tools/exec_sweep.py hub-sample   # print the rotating
           ~20-name hub-tier sample (seeded like the driver rotation)

Dense-corpus operating point (VERDICT r14 #5): on non-official corpora
(gen_altseed output — its synthetic embedding geometry makes ~10% of
ALL pairs genuinely cos >= 0.4) `dedup_embedding_ann` executes with the
test-pinned wider signature (32 planes / 4 bands,
test_embedding_ann_wider_signature_prunes_dense_corpus) instead of the
12/4 default that is sized for the sparse driver fixtures. This is an
EXECUTION-ONLY path — every oracle-checked run (driver, pytest
differential, sweep_sf01) keeps the registered default — and it turns
the r14 artifact's one >900 s-class wall-time (1091 s of near-all-pairs
exact verify) into a bounded probe. The override is announced with a
DENSE_KNOB line so the artifact self-documents.

Hub tier (VERDICT r14 #6): the r14 quadratics were found by an
ACCIDENTAL hub corpus (gen_altseed's fixed 150-user domain at 25x =
one 109k-event Zipf-head user). Standing recipe, run each round:

    python tools/gen_altseed.py /tmp/hub_25x 4242 25.0 150
    SWEEP_ONLY=$(python tools/exec_sweep.py hub-sample) \
        python tools/exec_sweep.py 5 /tmp/hub_25x

hub-sample rotates a ~20-name window over the per-entity-partition
plan families (asof/window/events/graph/ts/stream/sessions) with the
same seed convention as the driver rotation (count of checked-in
CORRECTNESS_r*.json), so successive rounds sweep different members.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

PER_NAME_TIMEOUT = int(os.environ.get("SWEEP_NAME_TIMEOUT", "900"))
CHUNK_TIMEOUT = int(os.environ.get("SWEEP_CHUNK_TIMEOUT", "1800"))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv: names, sf_dir, repo root. The child runs on the engine's own
# session (get_spark), so the sweep executes what tests and bench run;
# SPARK_GRAFT_DRIVER_MEM sizes the driver for heavy corpora. Its Python
# workers find the package through PYTHONPATH, from any cwd.
CHILD = r"""
import os, sys, time
SF_DIR, REPO = sys.argv[2], sys.argv[3]
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
from hbase_hadoop_flightsearch_spark.plans.registry import load_all
from hbase_hadoop_flightsearch_spark.session import get_spark
names = sys.argv[1].split(",")
spark = get_spark(app_name="exec_sweep")
assert spark.conf.get("spark.sql.ansi.enabled") == "true", "ANSI off?"
reg = load_all()
dense_corpus = not SF_DIR.startswith("/root/testdata/")
for name in names:
    print(f"START {name}", flush=True)
    t0 = time.time()
    try:
        if dense_corpus and name == "dedup_embedding_ann":
            # Dense-corpus operating point (see module docstring):
            # execution-only; oracle-checked runs keep the default.
            from hbase_hadoop_flightsearch_spark.operators.dedup import (
                embedding_ann_pairs,
            )
            print(f"DENSE_KNOB {name} planes=32 bands=4", flush=True)
            df = embedding_ann_pairs(spark, SF_DIR, planes_n=32, bands_n=4)
        else:
            df = reg[name].fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        print(f"OK {name} {time.time()-t0:.1f}s", flush=True)
    except Exception as ex:
        msg = str(ex).replace(chr(10), " ")[:250]
        print(f"FAIL {name} {msg}", flush=True)
spark.stop()
"""


# Plan families where per-entity partitions grow with corpus skew —
# window frames, as-of unions, graph propagation, per-key time series,
# session/stateful stream batches. A hub entity turns any accidental
# O(partition^2) frame in these into a single-task grind (the r14 class).
HUB_FAMILY_PREFIXES = (
    "asof_", "window_", "events_", "graph_", "ts_", "stream_",
    "sessionize", "cdc_", "incremental_",
)
HUB_SAMPLE_K = 20


def hub_sample(names: list[str], seed: int, k: int = HUB_SAMPLE_K) -> list[str]:
    """Rotating k-name window over the hub-prone families, seeded by the
    driver-rotation convention (CORRECTNESS artifact count) so each
    round's tier covers a different slice; full coverage every
    ceil(pool/k) rounds."""
    pool = sorted(
        n for n in names if n.startswith(HUB_FAMILY_PREFIXES)
    )
    if not pool:
        return []
    start = (seed * k) % len(pool)
    rotated = pool[start:] + pool[:start]
    return rotated[:k]


def _round_seed() -> int:
    import glob

    return len(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))


def main() -> None:
    sys.path.insert(0, REPO)
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all

    if len(sys.argv) > 1 and sys.argv[1] == "hub-sample":
        print(",".join(hub_sample(sorted(load_all()), _round_seed())))
        return

    chunk_size = int(sys.argv[1]) if len(sys.argv) > 1 else 25
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sorted(load_all())
    only = os.environ.get("SWEEP_ONLY")
    if only:
        keep = set(only.split(","))
        names = [n for n in names if n in keep]

    counts = {"ok": 0, "fail": 0, "timeout_alone": 0, "lost": 0}
    terminal: set[str] = set()

    def run_child(chunk, timeout, label):
        out, rc = "", None
        try:
            p = subprocess.run(
                [sys.executable, "-c", CHILD, ",".join(chunk), sf_dir, REPO],
                capture_output=True, text=True, timeout=timeout,
            )
            out, rc = p.stdout, p.returncode
        except subprocess.TimeoutExpired as e:
            raw = e.stdout or ""
            out = raw.decode() if isinstance(raw, bytes) else raw
        done, started = set(), []
        for line in out.splitlines():
            # Forward the dense-knob announcements — the r15 25x run
            # showed the START/OK/FAIL filter silently swallowed them,
            # leaving the artifact without its self-documentation line.
            dk = re.search(r"\bDENSE_KNOB \S+.*", line)
            if dk and dk.group(0).split()[1] in chunk:
                print(dk.group(0), flush=True)
                continue
            m = re.search(r"\b(START|OK|FAIL) (\S+)", line)
            if not m or m.group(2) not in chunk:
                continue
            if m.group(1) == "START":
                started.append(m.group(2))
                continue
            print(line[m.start():] + label, flush=True)
            done.add(m.group(2))
            terminal.add(m.group(2))
            counts["ok" if m.group(1) == "OK" else "fail"] += 1
        missing = [n for n in chunk if n not in done]
        culprit = None
        if rc is None:
            inflight = [n for n in started if n not in done]
            culprit = inflight[-1] if inflight else None
        elif missing:
            print(f"CHILD EXITED rc={rc}: {missing}", flush=True)
        return missing, culprit, rc is None

    retry = []
    for i in range(0, len(names), chunk_size):
        chunk = names[i: i + chunk_size]
        missing, culprit, _ = run_child(chunk, CHUNK_TIMEOUT, "")
        for n in missing:
            why = "chunk-culprit" if n == culprit else "chunk-collateral"
            print(f"RETRY {n} ({why})", flush=True)
            retry.append((n, why))

    for name, why in retry:
        missing, _, timed_out = run_child(
            [name], PER_NAME_TIMEOUT, f" (alone; was {why})"
        )
        if name not in missing:
            continue
        terminal.add(name)
        kind = "timeout_alone" if timed_out else "lost"
        print(
            f"{'TIMEOUT_ALONE' if timed_out else 'LOST'} {name} "
            f"(>{PER_NAME_TIMEOUT}s solo; was {why})",
            flush=True,
        )
        counts[kind] += 1

    uncategorized = [n for n in names if n not in terminal]
    for n in uncategorized:
        print(f"LOST {n} (no terminal record)", flush=True)
        counts["lost"] += 1
    print(
        f"EXEC SWEEP DONE: ok={counts['ok']} fail={counts['fail']} "
        f"timeout_alone={counts['timeout_alone']} lost={counts['lost']} "
        f"uncategorized={len(uncategorized)}",
        flush=True,
    )


if __name__ == "__main__":
    main()
