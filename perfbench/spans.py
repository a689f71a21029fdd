"""Spans recorded by the benchmark and the fold of Spark's event log.

A span is opened around each call into the program (pass -> op -> build or
exec). In a traced run each span also becomes the Spark job group of the
thread, so every job, stage and task in the event log can be attributed to
the span that caused it. Spans stay in memory and are written out once, at
the end of the run.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

PYTHON_RUN_METRIC = "time to run Python workers"  # a SQL timing metric, in ms


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Holds the spans of one run; tags Spark jobs once ``tag_jobs`` is on."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def tag_jobs(self, spark_context) -> None:
        """From now on, make each open span the job group of its jobs in
        ``spark_context``; ``None`` stops tagging."""
        self._sc = spark_context

    def _tag(self) -> None:
        if self._sc is None:
            return
        if self._stack:
            top = self._stack[-1]
            self._sc.setJobGroup(top.id, top.name)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(f"{self.run_id}:{len(self.spans)}", name, parent, self.run_id,
                 time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._tag()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag()

    def write(self, path: Path) -> None:
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_ms: float = 0.0
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0
    python_ms: float = 0.0


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold_event_log(path: Path) -> dict[str | None, GroupStats]:
    """Sum jobs and task metrics per job group from an uncompressed log.

    Stages are attributed through the job group in their submission
    properties; tasks through their stage. Jobs with no group fall under
    the ``None`` key.
    """
    stats: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[tuple[int, int], str | None] = {}
    with path.open() as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                stats[group].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
                g = stats[group]
                m = e.get("Task Metrics") or {}
                g.tasks += 1
                g.task_ms += _num(m.get("Executor Run Time"))
                g.shuffle_bytes += _num(
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")
                )
                g.spill_bytes += _num(m.get("Disk Bytes Spilled"))
                for acc in e["Task Info"].get("Accumulables", ()):
                    if acc.get("Name") == PYTHON_RUN_METRIC:
                        g.python_ms += _num(acc.get("Update"))
    return dict(stats)
