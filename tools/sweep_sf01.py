#!/usr/bin/env python
"""Full-registry oracle sweep with per-chunk AND per-NAME watchdogs.

Names are partitioned into chunks; each chunk runs in a FRESH subprocess
(own SparkSession) under a hard timeout, so one pathological DuckDB
oracle costs its chunk a TIMEOUT instead of hanging the sweep. The r13
upgrade (VERDICT r12 #1) makes every chunk casualty adjudicated BY
EVIDENCE rather than hypothesis:

- the child prints ``START <name>`` before each compare, so on a chunk
  timeout the parent knows exactly which name was in flight (the
  culprit) vs which never started (pure collateral);
- EVERY name a chunk failed to account for — culprit and collateral
  alike — is re-run as a SINGLETON child with its own per-name timeout.
  A singleton that greens is recorded ``OK <name> (alone, Ns)``; one
  that exceeds the per-name budget is recorded
  ``TIMEOUT_ALONE <name> (>Ns solo)`` — a terminal, per-name verdict;
- the final line reports ``uncategorized=N``: names with no terminal
  record (OK / FAIL / TIMEOUT_ALONE / LOST). A finished sweep must
  report 0.

Children run with SWEEP_DUCK_MEM/SWEEP_DUCK_TMP caps (tests/
oracle_utils.py honors them) so one runaway replay dies alone with a
loud error instead of exhausting the box — the r12 5x sweep lost a
whole chunk to a single >45 GB DuckDB temp spill.

Every registered name runs; no name is skipped at any scale.

Usage: python tools/sweep_sf01.py [chunk_size] [sf_dir] > sweep.log
       sf_dir defaults to the sf0.1 testdata corpus.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import threading

PER_NAME_TIMEOUT = int(os.environ.get("SWEEP_NAME_TIMEOUT", "900"))
CHUNK_TIMEOUT = int(os.environ.get("SWEEP_CHUNK_TIMEOUT", "1800"))
SINGLETON_WORKERS = 2

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv: names, sf_dir, repo root. The child runs on the engine's own
# session (get_spark: core count, codegen cache, broadcast threshold,
# Arrow), so the sweep checks and times what tests and bench run. Its
# Python workers find the package through PYTHONPATH, from any cwd.
CHILD = r"""
import os, sys, time
SF_DIR, REPO = sys.argv[2], sys.argv[3]
sys.path.insert(0, REPO); sys.path.insert(0, os.path.join(REPO, "tests"))
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
from hbase_hadoop_flightsearch_spark.plans.registry import load_all
from hbase_hadoop_flightsearch_spark.session import get_spark
from oracle_utils import compare_query_to_oracle
names = sys.argv[1].split(",")
spark = get_spark(app_name="sweep_sf01")
reg = load_all()
for name in names:
    print(f"START {name}", flush=True)
    t0 = time.time()
    try:
        compare_query_to_oracle(spark, reg[name], SF_DIR)
        print(f"OK {name} {time.time()-t0:.1f}s", flush=True)
    except Exception as ex:
        msg = str(ex).replace(chr(10), " ")[:250]
        print(f"FAIL {name} {msg}", flush=True)
spark.stop()
"""

_print_lock = threading.Lock()


def _say(line: str) -> None:
    with _print_lock:
        print(line, flush=True)


def main() -> None:
    sys.path.insert(0, REPO)
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all

    chunk_size = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    env = dict(os.environ)
    env.setdefault("SWEEP_DUCK_MEM", "24GB")
    env.setdefault("SWEEP_DUCK_TMP", "/tmp/sweep_duck_tmp")
    # sf0.1-class corpora replay the registered `oracle_scale`
    # restatements (posting-list instead of all-pairs jaccard; VERDICT
    # r14 #1) so the heaviest replays stop running 400-650 s against the
    # 900 s watchdog. The strict sf0.01/sf0.001 gates (driver + pytest
    # differential) never see this env var; equivalence of the two
    # formulations is enforced by tests/test_oracle_scale.py. Explicit
    # SWEEP_ORACLE_TIER=strict forces the quadratic originals (used for
    # the one-time identity measurements recorded in SCALE.md).
    if not sf_dir.rstrip("/").endswith(("sf0.001", "sf0.01")):
        env.setdefault("SWEEP_ORACLE_TIER", "scale")

    names = sorted(load_all())
    only = os.environ.get("SWEEP_ONLY")  # targeted re-runs / smoke tests
    if only:
        keep = set(only.split(","))
        names = [n for n in names if n in keep]

    counts = {"ok": 0, "fail": 0, "timeout_alone": 0, "lost": 0}
    terminal: set[str] = set()  # names with an OK/FAIL/terminal record

    def run_child(
        chunk: list[str], timeout: int, label: str
    ) -> tuple[list[str], str | None, bool]:
        """Run one child over `chunk`. Returns (unaccounted names, name
        in flight when the timeout hit — the culprit — or None, and
        whether the child hit the timeout vs exiting on its own)."""
        out, rc = "", None
        try:
            p = subprocess.run(
                [sys.executable, "-c", CHILD, ",".join(chunk), sf_dir, REPO],
                capture_output=True, text=True, timeout=timeout, env=env,
            )
            out, rc = p.stdout, p.returncode
        except subprocess.TimeoutExpired as e:
            raw = e.stdout or ""
            out = raw.decode() if isinstance(raw, bytes) else raw
        done, started = set(), []
        for line in out.splitlines():
            # match anywhere in the line (the r9 DuckDB-progress-bar
            # glue lesson); require the token to be a name of THIS
            # chunk so stray text cannot mark a name accounted
            m = re.search(r"\b(START|OK|FAIL) (\S+)", line)
            if not m or m.group(2) not in chunk:
                continue
            if m.group(1) == "START":
                started.append(m.group(2))
                continue
            _say(line[m.start():] + label)
            done.add(m.group(2))
            # run_child is also called from the adjudicate thread pool:
            # guard the shared tallies — `counts[k] += 1` is a lost-
            # update race without it (ADVICE r13)
            with _print_lock:
                terminal.add(m.group(2))
                counts["ok" if m.group(1) == "OK" else "fail"] += 1
        missing = [n for n in chunk if n not in done]
        culprit = None
        if rc is None:  # timed out: last STARTed-but-unaccounted name
            inflight = [n for n in started if n not in done]
            culprit = inflight[-1] if inflight else None
        elif missing:
            _say(f"CHILD EXITED rc={rc} with unaccounted names: {missing}")
        return missing, culprit, rc is None

    # Phase 1: chunked pass for throughput. A chunk timeout no longer
    # adjudicates anything — it only routes names to phase 2.
    retry: list[tuple[str, str]] = []  # (name, why)
    for i in range(0, len(names), chunk_size):
        chunk = names[i: i + chunk_size]
        missing, culprit, _ = run_child(chunk, CHUNK_TIMEOUT, "")
        for n in missing:
            why = "chunk-culprit" if n == culprit else "chunk-collateral"
            _say(f"RETRY {n} ({why})")
            retry.append((n, why))

    # Phase 2: per-NAME adjudication — every unaccounted name runs as a
    # singleton under its own budget; the outcome is terminal.
    def adjudicate(item: tuple[str, str]) -> None:
        name, why = item
        missing, _, timed_out = run_child(
            [name], PER_NAME_TIMEOUT, f" (alone; was {why})"
        )
        if name not in missing:
            return
        if not timed_out:
            # the child DIED rather than timing out — one more fresh
            # child distinguishes a flaky crash from a real one
            missing, _, timed_out = run_child(
                [name], PER_NAME_TIMEOUT, f" (alone retry; was {why})"
            )
            if name not in missing:
                return
        with _print_lock:
            terminal.add(name)
            counts["timeout_alone" if timed_out else "lost"] += 1
        _say(
            f"TIMEOUT_ALONE {name} (>{PER_NAME_TIMEOUT}s solo; "
            f"was {why})"
            if timed_out
            else f"LOST {name} (singleton child died twice; was {why})"
        )

    if retry:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(SINGLETON_WORKERS) as pool:
            list(pool.map(adjudicate, retry))

    uncategorized = [n for n in names if n not in terminal]
    for n in uncategorized:
        _say(f"LOST {n} (no terminal record)")
        counts["lost"] += 1
    _say(
        f"SWEEP DONE: ok={counts['ok']} fail={counts['fail']} "
        f"timeout_alone={counts['timeout_alone']} lost={counts['lost']} "
        f"uncategorized={len(uncategorized)}"
    )


if __name__ == "__main__":
    main()
