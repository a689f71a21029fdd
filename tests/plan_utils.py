"""Helpers that read Spark plan strings."""

from __future__ import annotations


def lambda_bodies(plan):
    """The text of every lambdafunction(...) in a plan string."""
    start = 0
    while (i := plan.find("lambdafunction(", start)) >= 0:
        depth, j = 0, i + len("lambdafunction")
        for j in range(j, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0:
                break
        yield plan[i : j + 1]
        start = i + 1
