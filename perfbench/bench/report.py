"""Metrics of one benchmark run, by workload.

`end_to_end` gives the metrics BENCHMARK.json bounds (the same names on every
workload), `headline` the workload's own named figures with their sample
counts, and `per_layer` the layer metrics of a traced run. README.md in this
directory lists every name with its meaning.
"""

from . import metrics as m
from .metrics import Run, mean, median

QUERY_CLASSES = ("topk", "phrase", "expand")


def primary_ops(run, workload, cpus):
    """The ops whose latency is `op_p50_ms` on this workload."""
    if workload == "build":
        return run.ops_of("build", "x%d" % cpus)
    if workload == "search":
        return run.ops_of("query", "topk")
    return run.ops_of("nrt", "visibility")


def query_ops(run, workload):
    """The ops whose latency is `query_p50_ms` on this workload."""
    return run.ops_of("nrt_query" if workload == "nrt" else "query")


def setup_seconds(run):
    return sum(s["s"] for s in run.doc["setups"])


def index_bytes_per_text_byte(run, workload):
    c = run.counters
    if workload == "build":
        sizes = [sum(v for k, v in o["info"]["tables"].items() if k != "runs")
                 for o in run.ops_of("build") if "tables" in o["info"]]
        index = median(sizes)
    elif workload == "search":
        index = sum(v for k, v in c["index_tables"].items() if k != "runs")
    else:
        index = c["store_bytes"]
    return index / c["text_bytes"]


def end_to_end(run, workload, cpus):
    ops = primary_ops(run, workload, cpus)
    lat = [Run.ms(o) for o in ops]
    qlat = [Run.ms(o) for o in query_ops(run, workload)]
    return {
        "setup_s": (setup_seconds(run), "s", len(run.doc["setups"])),
        "op_p50_ms": (median(lat), "ms", len(lat)),
        "query_p50_ms": (median(qlat), "ms", len(qlat)),
        "index_bytes_per_text_byte": (index_bytes_per_text_byte(run, workload),
                                      "ratio", 1),
    }


def _p50_tail(name, lat, unit="ms"):
    out = {name + "_p50_" + unit: (median(lat), unit, len(lat))}
    p = m.tail_percentile(len(lat))
    if p is not None:
        out["%s_p%s_%s" % (name, ("%g" % p).replace(".", "_"), unit)] = (
            m.percentile(lat, p), unit, len(lat))
    return out


def headline(run, workload, cpus):
    """The workload's own named end-to-end figures, with sample counts."""
    out = {}
    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o["ok"])
    out["ops_failed_frac"] = (m.failed_frac(attempted, failed), "ratio", attempted)
    out["peak_rss_mb"] = (run.counters["peak_rss_bytes"] / 2.0 ** 20, "MB",
                          run.counters["rss_samples"])
    if workload == "build":
        t1 = [Run.ms(o) for o in run.ops_of("build", "x1")]
        tn = [Run.ms(o) for o in run.ops_of("build", "x%d" % cpus)]
        turns = run.counters["turns"]
        out["build_turns_per_s"] = (turns / (median(tn) / 1000.0), "turns/s", len(tn))
        out["build_x1_turns_per_s"] = (turns / (median(t1) / 1000.0), "turns/s", len(t1))
        out["build_scaling_eff"] = (median(t1) / (cpus * median(tn)), "ratio",
                                    min(len(t1), len(tn)))
    elif workload == "search":
        out.update(_p50_tail("query", [Run.ms(o) for o in run.ops_of("query")]))
        for c in QUERY_CLASSES:
            lat = [Run.ms(o) for o in run.ops_of("query", c)]
            out[c + "_p50_ms"] = (median(lat), "ms", len(lat))
    else:
        out.update(_p50_tail("nrt_visibility",
                             [Run.ms(o) for o in run.ops_of("nrt", "visibility")]))
        out.update(_p50_tail("nrt_query", [Run.ms(o) for o in run.ops_of("nrt_query")]))
        # only traced runs compact
        comp = [Run.ms(o) / 1000.0 for o in run.ops_of("nrt_compact")]
        if comp:
            out["nrt_compact_s"] = (median(comp), "s", len(comp))
    return out


def _unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_per_posting"):
        return "bytes"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_frac") or name.endswith("_ratio"):
        return "ratio"
    return "count"


def per_layer(run, workload, cpus):
    c = run.counters
    out = {}
    out["analysis.tokens_per_s"] = c.get("analysis.tokens_per_s", 0.0)

    # build: the workload's builds, the nrt segment builds, or the search
    # set-up build (manifest only)
    if workload == "build":
        build_ops, slots = run.ops_of("build", "x%d" % cpus), cpus
    elif workload == "nrt":
        build_ops, slots = run.ops_of("nrt", "visibility"), cpus
    else:
        build_ops = [{"id": -1, "traced": False,
                      "info": {"manifest": c.get("index_dir_manifest", [])}}]
        slots = cpus
    out.update(m.build_layers(run, build_ops, slots))

    sum_df = c.get("sum_df", 0)
    out["codec.bytes_per_posting"] = (c.get("postings_bytes", 0) / sum_df) if sum_df else 0.0
    for k in ("codec.decode_postings_per_s", "codec.decode_positions_per_s",
              "score.postings_per_s"):
        out[k] = c.get(k, 0.0)

    for cls in QUERY_CLASSES:
        ops = run.ops_of("query", cls)
        out.update(m.query_layers(run, ops, "query." + cls))
        out["query.%s.lookup_ms" % cls] = median(
            [o["info"]["lookup_ms"] for o in ops if "lookup_ms" in o["info"]])
    topk = [o for o in run.ops_of("query", "topk") if o["traced"]]
    scanned = sum(o["info"].get("blocks_scanned", 0) for o in topk)
    skipped = sum(o["info"].get("blocks_skipped", 0) for o in topk)
    out["query.blocks_scanned"] = scanned / len(topk) if topk else 0.0
    out["query.blocks_skipped"] = skipped / len(topk) if topk else 0.0
    out["query.skip_ratio"] = skipped / (scanned + skipped) if scanned + skipped else 0.0

    vis = run.ops_of("nrt", "visibility")
    out["streaming.append_ms"] = median([o["info"]["append_ms"] for o in vis
                                         if "append_ms" in o["info"]])
    out["streaming.append.jobs"] = mean([run.call_jobs(o, "StreamingIndexer.appendSegment")
                                         for o in vis if o["traced"]])
    out["streaming.reopen_ms"] = median([o["info"]["reopen_ms"] for o in vis
                                         if "reopen_ms" in o["info"]])
    out["streaming.delete_ms"] = median([Run.ms(o) for o in run.ops_of("nrt_mutate", "delete")])
    out["streaming.update_ms"] = median([Run.ms(o) for o in run.ops_of("nrt_mutate", "update")])
    nq = run.ops_of("nrt_query")
    out.update(m.query_layers(run, nq, "streaming.query"))
    for k in ("input_bytes", "shuffle_bytes"):
        out.pop("streaming.query." + k)
    out["streaming.segments"] = mean([o["info"]["segments"] for o in nq])
    out["streaming.tombstones"] = mean([o["info"]["tombstones"] for o in nq])
    comp = [o for o in run.ops_of("nrt_compact") if o["traced"]]
    out["streaming.compact.task_max_ms"] = mean(
        [max([t for s in run.stages_of_op.get(o["id"], []) for t in s["task_ms"]] or [0])
         for o in comp])

    traced = [o for o in run.ops if o["traced"]]
    stats = [run.op_stats(o) for o in traced]
    out["spark.gc_ms"] = sum(s["gc_ms"] for s in stats)
    out["spark.failed_tasks"] = sum(s["failed_tasks"] for s in stats)
    out["spark.spill_bytes"] = sum(s["spill_bytes"] for s in stats)
    # the traced run's op_p50_ms: summarize.py sets it against the untraced
    # runs' op_p50_ms for the tracing overhead
    out["trace.op_p50_ms"] = median([Run.ms(o) for o in primary_ops(run, workload, cpus)])
    out["trace.traced_ops"] = len(traced)
    return {k: (v, _unit(k)) for k, v in out.items()}


def spark_spans(run):
    """Spark jobs and stages as spans under the op/call they ran in."""
    out = []
    for j in run.jobs:
        parent = run.job_span.get(j["id"])
        if parent is None:
            continue
        op = run.span_by_id[parent]["op"]
        out.append({"id": "job-%d" % j["id"], "parent": parent, "op": op,
                    "level": "spark.job", "name": "job %d" % j["id"],
                    "t0": j["t0"], "t1": j["t1"]})
    for s in run.stages:
        parent = run.job_span.get(s["job"])
        if parent is None:
            continue
        out.append({"id": "stage-%d.%d" % (s["id"], s["attempt"]),
                    "parent": "job-%d" % s["job"], "op": run.span_by_id[parent]["op"],
                    "level": "spark.stage", "name": s["name"],
                    "t0": s["t0"], "t1": s["t1"]})
    return out


def with_self_times(spans):
    """Each span with `self_ms`: its duration minus what its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return [dict(s, self_ms=m.self_time(s, kids.get(s["id"], []))) for s in spans]


def merge(docs):
    """One raw document from several processes of one run (the two `build`
    applications). Ids of later documents are offset so they stay unique."""
    out = docs[0]
    for i, d in enumerate(docs[1:], 1):
        off = i * 10 ** 6
        for o in d["ops"]:
            o["id"] += off
        for s in d["spans"]:
            s["id"] += off
            s["op"] += off
            if s["parent"]:
                s["parent"] += off
        for j in d["jobs"]:
            j["id"] += off
        for st in d["stages"]:
            st["id"] += off
            st["job"] += off
        for key in ("ops", "spans", "jobs", "stages", "setups", "check_failures"):
            out[key] = out[key] + d[key]
        c = d["counters"]
        peak = max(out["counters"].get("peak_rss_bytes", 0), c.get("peak_rss_bytes", 0))
        samples = out["counters"].get("rss_samples", 0) + c.get("rss_samples", 0)
        out["counters"].update(c)
        out["counters"].update(peak_rss_bytes=peak, rss_samples=samples)
    return out
