#!/usr/bin/env python
"""Capture .explain("formatted") for headline (or named) registry queries.

Usage:
    python tools/capture_plans.py <outdir> [name ...]

Writes <outdir>/<name>_<suffix>.txt for each query (suffix from
$PLAN_SUFFIX, default "before"). Planning-only: no action is executed, so
this is safe to run on a loaded box. Plans are captured with the same
session confs bench.py pins for its timed seats, so the captured shape is
the benched shape.

Expression ids (``#123``, ``#123L``), exchange ``plan_id=N`` numbers,
lambda variable suffixes (``lambda x_253``) and RDD ids
(``MapPartitionsRDD[81]``) are replaced with fixed tokens before writing:
they depend on how many plans the session built before, so without this
two captures of an unchanged query differ on nearly every line. With it,
``diff -r before/ after/`` shows only real plan changes.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import PINNED_CONFS  # noqa: E402
from hbase_hadoop_flightsearch_spark.plans.registry import load_all  # noqa: E402
from hbase_hadoop_flightsearch_spark.session import get_spark  # noqa: E402


def normalize_plan(text: str) -> str:
    """Replace session-dependent expression ids and plan ids with fixed
    tokens, so plan text from two sessions compares line for line."""
    text = re.sub(r"#\d+L?\b", "#_", text)
    text = re.sub(r"plan_id=\d+", "plan_id=_", text)
    text = re.sub(r"\b(lambda [A-Za-z]\w*?)_\d+\b", r"\1_", text)
    return re.sub(r"RDD\[\d+\]", "RDD[_]", text)


def main() -> None:
    outdir = sys.argv[1]
    names = sys.argv[2:]
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="capture_plans")
    registry = load_all()
    qs = (
        [registry[n] for n in names]
        if names
        else [q for q in registry.values() if q.headline]
    )
    for q in qs:
        pins = PINNED_CONFS.get(q.name, {})
        for k, v in pins.items():
            spark.conf.set(k, v)
        try:
            df = q.fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(outdir, f"{q.name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(normalize_plan(buf.getvalue()))
            print(f"wrote {path}")
        finally:
            for k in pins:
                spark.conf.unset(k)
    spark.stop()


if __name__ == "__main__":
    main()
