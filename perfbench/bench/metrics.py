"""Benchmark arithmetic: percentiles, span self time, job-to-op attribution,
failure accounting, and the metrics derived from one raw record document.

Everything here is pure Python over plain dicts so that it can be tested
without Spark (see perfbench/tests/test_metrics.py).
"""

import json
import statistics

# Percentiles tried for a tail figure, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
# A tail percentile needs at least this many samples beyond it.
TAIL_MIN_BEYOND = 10
# Listener events carry whole epoch milliseconds.
EVENT_SLACK_MS = 1.0


def percentile(values, p):
    """Linear-interpolated percentile (0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """Highest percentile of TAIL_LADDER with at least ten of n samples
    beyond it, or None when even the lowest has fewer."""
    for p in TAIL_LADDER:
        if n * (1.0 - p / 100.0) >= TAIL_MIN_BEYOND - 1e-9:
            return p
    return None


def quartile_spread(values):
    """(q3 - q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def failed_frac(attempted, failed):
    if attempted < 1:
        raise ValueError("no operation attempted")
    if failed < 0 or failed > attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of [t0, t1] intervals, clipped to [lo, hi]."""
    clipped = []
    for t0, t1 in intervals:
        if lo is not None:
            t0 = max(t0, lo)
        if hi is not None:
            t1 = min(t1, hi)
        if t1 > t0:
            clipped.append((t0, t1))
    clipped.sort()
    total = 0.0
    cur0 = cur1 = None
    for t0, t1 in clipped:
        if cur1 is None or t0 > cur1:
            if cur1 is not None:
                total += cur1 - cur0
            cur0, cur1 = t0, t1
        else:
            cur1 = max(cur1, t1)
    if cur1 is not None:
        total += cur1 - cur0
    return total


def self_time(span, children):
    """A span's duration minus the part of it that its children cover."""
    return (span["t1"] - span["t0"]) - union_length(
        [(c["t0"], c["t1"]) for c in children], span["t0"], span["t1"])


def attribute(events, spans, slack=EVENT_SLACK_MS):
    """Map each event (dict with 't0') to the id of the innermost span whose
    interval contains its start: the latest-starting containing span, since
    ops run one after another and calls nest inside ops. Events inside no
    span map to None."""
    ordered = sorted(spans, key=lambda s: s["t0"])
    out = {}
    for e in events:
        best = None
        for s in ordered:
            if s["t0"] - slack > e["t0"]:
                break
            if e["t0"] <= s["t1"] + slack:
                best = s
        out[e["id"]] = best["id"] if best else None
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# --------------------------------------------------------------------------
# Derivation from one raw document


class Run:
    """Index over one raw record document written by perfbench.Main."""

    def __init__(self, doc):
        self.doc = doc
        self.ops = doc["ops"]
        self.spans = doc["spans"]
        self.stages = doc["stages"]
        self.jobs = doc["jobs"]
        self.counters = doc["counters"]
        op_spans = [s for s in self.spans if s["level"] in ("op", "call")]
        self.span_by_id = {s["id"]: s for s in self.spans}
        # job -> innermost op/call span; stage -> its job's span
        self.job_span = attribute(self.jobs, op_spans)
        self.job_op = {j: (self.span_by_id[s]["op"] if s else None)
                       for j, s in self.job_span.items()}
        self.stages_of_op = {}
        for st in self.stages:
            op = self.job_op.get(st["job"])
            if op is not None:
                self.stages_of_op.setdefault(op, []).append(st)
        self.jobs_of_op = {}
        for j, op in self.job_op.items():
            if op is not None:
                self.jobs_of_op.setdefault(op, []).append(j)

    def ops_of(self, kind, cls=None, traced=None):
        return [o for o in self.ops if o["kind"] == kind
                and (cls is None or o["cls"] == cls)
                and (traced is None or o["traced"] == traced)]

    @staticmethod
    def ms(o):
        return o["t1"] - o["t0"]

    def op_stats(self, o):
        """Jobs, tasks and stage sums attributed to one traced op."""
        sts = self.stages_of_op.get(o["id"], [])
        covered = union_length([(s["t0"], s["t1"]) for s in sts if s["t1"] > 0],
                               o["t0"], o["t1"])
        return {
            "jobs": len(self.jobs_of_op.get(o["id"], [])),
            "tasks": sum(s["tasks"] for s in sts),
            "task_busy_ms": sum(s["run_ms"] for s in sts),
            "input_bytes": sum(s["input_bytes"] for s in sts),
            "shuffle_bytes": sum(s["shuffle_read_bytes"] for s in sts),
            "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in sts),
            "spill_bytes": sum(s["spill_bytes"] for s in sts),
            "gc_ms": sum(s["gc_ms"] for s in sts),
            "failed_tasks": sum(s["failed_tasks"] + s["retried_tasks"] for s in sts),
            "driver_ms": self.ms(o) - covered,
        }

    def call_jobs(self, o, name):
        """Jobs attributed to the call spans named `name` inside op o."""
        ids = {s["id"] for s in self.spans
               if s["level"] == "call" and s["op"] == o["id"] and s["name"] == name}
        return sum(1 for j, s in self.job_span.items() if s in ids)


def manifest_of(o):
    return [json.loads(m) for m in o["info"].get("manifest", [])]


def stage_window(rec):
    """[start, end] of one manifest record, in epoch ms."""
    return rec["committed_at"] - rec["wall_ms"], rec["committed_at"]


def build_layers(run, build_ops, slots):
    """build.* layer metrics over ops that each built one index (with a
    manifest). Skew and busy share come from traced ops only."""
    out = {}
    stages = ["runs", "docmap", "norms", "termdict", "postings", "stats"]
    recs = [manifest_of(o) for o in build_ops]
    for st in stages:
        walls = [r["wall_ms"] for m in recs for r in m if r["stage"] == st]
        out["build.%s_ms" % st] = median(walls)
        sizes = [sum(f["bytes"] for f in r["outputs"]) for m in recs for r in m
                 if r["stage"] == st]
        out["build.%s_bytes" % st] = median(sizes)
    traced = [o for o in build_ops if o["traced"]]
    stats = [run.op_stats(o) for o in traced]
    out["build.shuffle_write_bytes"] = mean([s["shuffle_write_bytes"] for s in stats])
    out["build.spill_bytes"] = mean([s["spill_bytes"] for s in stats])
    out["build.gc_ms"] = mean([s["gc_ms"] for s in stats])
    for layer in ("runs", "postings"):
        maxes, meds = [], []
        for o in traced:
            recs_o = [r for r in manifest_of(o) if r["stage"] == layer]
            if not recs_o:
                continue
            lo, hi = stage_window(recs_o[0])
            tasks = [t for s in run.stages_of_op.get(o["id"], [])
                     if lo - EVENT_SLACK_MS <= s["t0"] <= hi + EVENT_SLACK_MS
                     for t in s["task_ms"]]
            if tasks:
                maxes.append(max(tasks))
                meds.append(median(tasks))
        out["build.%s.task_max_ms" % layer] = mean(maxes)
        out["build.%s.task_median_ms" % layer] = mean(meds)
    busy = [run.op_stats(o)["task_busy_ms"] / (Run.ms(o) * slots) for o in traced
            if Run.ms(o) > 0]
    out["build.slot_busy_frac"] = mean(busy)
    return out


def query_layers(run, ops, prefix):
    """Per-op means of jobs, tasks, busy/driver time and bytes over traced ops."""
    traced = [o for o in ops if o["traced"]]
    stats = [run.op_stats(o) for o in traced]
    out = {}
    for key in ("jobs", "tasks", "driver_ms", "task_busy_ms", "input_bytes",
                "shuffle_bytes"):
        out["%s.%s" % (prefix, key)] = mean([s[key] for s in stats])
    return out


def overhead(traced, untraced):
    """Tracing overhead: the median over traced runs of their primary-op
    median, over the same for untraced runs, minus one."""
    if not traced or not untraced:
        raise ValueError("overhead needs traced and untraced runs")
    return median(traced) / median(untraced) - 1.0
