#!/usr/bin/env python3
"""Median, quartiles and spread of end-to-end metrics over saved runs.

    python3 perfbench/summarize.py RUN_OUTPUT...

Each argument is the saved standard output of one `run.py` run; its last
line is the JSON result. Runs are grouped by the workload named in their
`context workload = ...` line. For every metric the table shows the sample
count, the median, the quartiles as `statistics.quantiles(n=4)` gives them,
and the spread (q3 - q1) / median that BENCHMARK.json bounds are checked
against. Traced runs (`--trace 1`) are tabled apart; when a workload has
both kinds, the tracing overhead is the traced runs' median
`trace.op_p50_ms` over the untraced runs' median `op_p50_ms`, minus one.
"""

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench.metrics import overhead, quartile_spread  # noqa: E402


def context(lines, key):
    return next((l.split("=", 1)[1].strip() for l in lines
                 if l.startswith("context %s =" % key)), "?")


def main(paths):
    by_run = {}
    for p in paths:
        with open(p) as f:
            lines = f.read().strip().splitlines()
        kind = (context(lines, "workload"),
                "traced" if context(lines, "trace") == "True" else "untraced")
        result = json.loads(lines[-1])
        if not result["correct"]:
            print("%s: %d of %d ops failed" % (p, result["failed"], result["attempted"]))
        for name, v in result["metrics"].items():
            by_run.setdefault(kind, {}).setdefault(name, []).append(v["value"])
    for (workload, trace), metrics in sorted(by_run.items()):
        label = workload if trace == "untraced" else workload + "*"
        for name, xs in metrics.items():
            if len(xs) < 2:
                print("%-8s %-32s n=1 value=%.6g" % (label, name, xs[0]))
                continue
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            print("%-8s %-32s n=%d median=%.6g q1=%.6g q3=%.6g spread=%.3f" % (
                label, name, len(xs), statistics.median(xs), q1, q3,
                quartile_spread(xs)))
    for (workload, trace), metrics in sorted(by_run.items()):
        untraced = by_run.get((workload, "untraced"), {}).get("op_p50_ms")
        if trace == "traced" and untraced and "trace.op_p50_ms" in metrics:
            print("%-8s tracing overhead %.3f (%d traced, %d untraced runs)" % (
                workload, overhead(metrics["trace.op_p50_ms"], untraced),
                len(metrics["trace.op_p50_ms"]), len(untraced)))


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
