"""Seeded inputs for the benchmark.

Two inputs, both derived only from the workload seed:

* a query corpus (the ten parquet tables) written by the repository's own
  ``tools/gen_altseed.py`` at ``CORPUS_SCALE``;
* a headerless BTS On-Time CSV for the three reference jobs, together with
  the delay report those jobs must print, computed here from the
  generator's own arrays (never by the program under test).
"""

from __future__ import annotations

import subprocess
import sys
from dataclasses import dataclass
from pathlib import Path

import numpy as np

# gen_altseed.py scale 1 is ~60k lineitem, 10k events, 500 documents and
# 500 embeddings rows (~1.8 MB of parquet). At this size every op is bound
# by per-query planning and scheduling, which is what the later PRs of
# this round change; a larger corpus would not fit the run-time budget.
CORPUS_SCALE = 1
BTS_LINES = 50_000
BTS_FIELDS = 48  # the reference reads up to positional index 43
CARRIERS = ("AA", "DL", "UA", "WN", "US", "NW", "CO", "B6", "AS", "XE")
YEARS = (2007, 2008, 2009)
MONTHS = range(1, 13)


def make_corpus(repo_root: Path, out_dir: Path, seed: int) -> None:
    """Write the ten query tables for ``seed`` into ``out_dir``."""
    subprocess.run(
        [
            sys.executable,
            str(repo_root / "tools" / "gen_altseed.py"),
            str(out_dir),
            str(seed),
            str(CORPUS_SCALE),
        ],
        check=True,
        stdout=subprocess.DEVNULL,
    )


@dataclass(frozen=True)
class BtsCsv:
    path: Path
    n_lines: int
    n_bytes: int
    report: str  # expected report text: sorted lines, each ending in "\n"


def _bts_columns(seed: int, n: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    year = rng.choice(YEARS, n, p=[0.15, 0.75, 0.10])
    month = rng.integers(1, 13, n)
    carrier = rng.integers(0, len(CARRIERS), n)
    # Empty carrier-months must print 0: drop every 2008 row of a few
    # (carrier, month) cells by moving them to 2007.
    empty = rng.choice(len(CARRIERS) * 12, 4, replace=False)
    cell = carrier * 12 + (month - 1)
    year = np.where((year == 2008) & np.isin(cell, empty), 2007, year)
    cancelled = rng.random(n) < 0.02
    diverted = ~cancelled & (rng.random(n) < 0.005)
    delay = rng.integers(0, 180, n)
    return {
        "year": year,
        "month": month,
        "carrier": carrier,
        "cancelled": cancelled,
        "diverted": diverted,
        "delay": delay,
    }


def expected_report(cols: dict[str, np.ndarray]) -> str:
    """The reference's report over the generated rows.

    HCompute keeps year 2008 rows that are neither cancelled nor diverted,
    prints ``floor(avg) + 1`` per carrier and month (``Math.round(avg +
    0.5f)``), prints 0 for a month with no such rows, and keys each line
    ``AIR-<carrier>`` with a leading ``", "`` before the month list.
    """
    keep = (cols["year"] == 2008) & ~cols["cancelled"] & ~cols["diverted"]
    idx = cols["carrier"][keep] * 12 + (cols["month"][keep] - 1)
    n_cells = len(CARRIERS) * 12
    sums = np.bincount(idx, weights=cols["delay"][keep], minlength=n_cells)
    counts = np.bincount(idx, minlength=n_cells)
    lines = []
    for c, code in enumerate(CARRIERS):
        row = counts[c * 12 : (c + 1) * 12]
        if not row.any():
            continue
        vals = [
            int(sums[c * 12 + m - 1]) // int(row[m - 1]) + 1 if row[m - 1] else 0
            for m in MONTHS
        ]
        lines.append(
            f"AIR-{code}\t" + "".join(f", ({m},{v})" for m, v in zip(MONTHS, vals))
        )
    return "".join(line + "\n" for line in sorted(lines))


def make_bts_csv(out_dir: Path, seed: int, n: int = BTS_LINES) -> BtsCsv:
    """Write ``n`` headerless BTS lines with ``BTS_FIELDS`` positional fields.

    Field 15 is a quoted city name with a comma in it, as in the real
    export, so a parse that is not quote-aware shifts every later index.
    Cancelled and diverted rows leave ArrDelayMinutes blank.
    """
    cols = _bts_columns(seed, n)
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / "bts.csv"
    filler = [""] * BTS_FIELDS
    with path.open("w", newline="") as f:
        for i in range(n):
            fields = list(filler)
            code = CARRIERS[cols["carrier"][i]]
            m = int(cols["month"][i])
            fields[0] = str(int(cols["year"][i]))
            fields[1] = str((m - 1) // 3 + 1)
            fields[2] = str(m)
            fields[3] = str(i % 28 + 1)
            fields[6] = code
            fields[10] = str(1000 + i % 4000)
            fields[14] = "DFW"
            fields[15] = '"Dallas/Fort Worth, TX"'
            fields[23] = "ORD"
            flagged = cols["cancelled"][i] or cols["diverted"][i]
            fields[37] = "" if flagged else f"{int(cols['delay'][i])}.00"
            fields[41] = "1.00" if cols["cancelled"][i] else "0.00"
            fields[43] = "1.00" if cols["diverted"][i] else "0.00"
            f.write(",".join(fields) + "\n")
    return BtsCsv(path, n, path.stat().st_size, expected_report(cols))
