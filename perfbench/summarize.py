#!/usr/bin/env python3
"""Trace summarizer: spans of a traced run -> per-layer metrics.

Usage: python3 perfbench/summarize.py <run dir>   (a traced run's output)

A span is one line of spans.jsonl: {id, parent, op, name, start_ms, end_ms,
jobs_ms, attrs}. Parent 0 marks a timed op; every other span is the
benchmark's call into one layer (`<layer>.<call>`). Its attrs hold the Spark
work attributed to it by the benchmark's listeners, and jobs_ms the
intervals of the Spark jobs it submitted (same clock as start_ms/end_ms).
Each per-layer metric is reported as the median over the ops (or calls)
that did that work (`.p50`) and, for additive ones, as the run's total
(`.total`); a layer that did no work on a workload reports 0. LAYERS.md
says which end-to-end metric each one should move, and on which workload.
"""
import json
import os
import statistics
import sys

# (name, unit, better, additive): `additive` ones also get a `.total`.
SPARK = [("spark.jobs_per_op", "count", False), ("spark.stages_per_op", "count", False),
         ("spark.tasks_per_op", "count", False), ("spark.executor_cpu_ms", "ms", True),
         ("spark.executor_run_ms", "ms", True), ("spark.gc_ms", "ms", True),
         ("spark.shuffle_read_bytes", "bytes", True), ("spark.shuffle_write_bytes", "bytes", True),
         ("spark.spill_bytes", "bytes", True), ("spark.input_bytes", "bytes", True),
         ("spark.output_bytes", "bytes", True), ("spark.driver_only_ms", "ms", True)]
SPAN_MS = ["ops.build", "ops.plan", "ops.exec", "catalog.sql", "catalog.open",
           "tx.insert", "tx.merge", "tx.update", "tx.delete", "tx.alter",
           "tx.multi_table", "tx.compact", "manifest.snapshot_cold",
           "manifest.snapshot_warm", "mv.refresh", "changefeed.pass"]
STREAM_PHASES = [("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms"),
                 ("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                 ("walCommit", "wal_commit_ms")]
LAYERS = ["bench", "ops", "spark", "catalog", "tx", "manifest", "mv", "changefeed"]


def spec():
    """Every per-layer metric: (name, unit, better)."""
    out = []

    def dist(name, unit, total=True, better="lower"):
        out.append((f"{name}.p50", unit, better))
        if total:
            out.append((f"{name}.total", unit, better))
    out += [("tables.warm_s", "s", "lower"), ("tables.cached_mb", "MB", "lower")]
    for name, unit, additive in SPARK:
        dist(name, unit, additive)
    for s in SPAN_MS:
        dist(f"{s}_ms", "ms")
    dist("tx.jobs_per_commit", "count", False)
    out.append(("tx.occ_retries", "count", "lower"))
    dist("tx.files_added_per_commit", "count")
    dist("manifest.meta_bytes_per_commit", "bytes")
    out.append(("manifest.versions", "count", "lower"))
    dist("fileindex.files_live", "count", False)
    dist("fileindex.files_read", "count")
    dist("fileindex.prune_ratio", "ratio", False, "higher")
    dist("fileindex.bytes_read", "bytes")
    dist("mv.jobs_per_refresh", "count", False)
    dist("changefeed.batches_per_pass", "count", False)
    dist("changefeed.rows_per_pass", "rows")
    dist("changefeed.jobs_per_pass", "count", False)
    for _, name in STREAM_PHASES:
        dist(f"changefeed.{name}", "ms")
    dist("changefeed.startup_ms", "ms")
    for layer in LAYERS:
        out.append((f"self.{layer}_ms", "ms", "lower"))
    out += [("trace.overhead_ms", "ms", "lower"), ("trace.overhead_pct", "%", "lower")]
    return out


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def _union(intervals):
    total, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def layer_values(spans, detail):
    """name -> list of per-op (or per-call) values, plus single values."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    ops = [s for s in spans if s["parent"] == 0]
    in_op = {}
    for s in spans:
        in_op.setdefault(s["op"], []).append(s)
    dur = lambda s: s["end_ms"] - s["start_ms"]  # noqa: E731

    def inclusive(s, key):
        return s["attrs"].get(key, 0.0) + sum(inclusive(c, key) for c in kids.get(s["id"], []))

    v = {}
    add = lambda k, x: v.setdefault(k, []).append(x)  # noqa: E731
    for op in ops:
        tot = lambda key: sum(s["attrs"].get(key, 0.0) for s in in_op[op["id"]])  # noqa: E731
        for name, _, _ in SPARK[:-1]:
            key = name.split(".", 1)[1].replace("_per_op", "")
            add(name, tot(key))
        # time in the op's layer calls that no Spark job covers; the
        # benchmark's own work between the calls is not counted
        jobs = [iv for s in in_op[op["id"]] for iv in s["jobs_ms"]]
        add("spark.driver_only_ms", sum(
            dur(c) - _union([(max(a, c["start_ms"]), min(b, c["end_ms"])) for a, b in jobs
                             if min(b, c["end_ms"]) > max(a, c["start_ms"])])
            for c in kids.get(op["id"], [])))
        a = op["attrs"]
        if "commits" in a:
            add("tx.files_added_per_commit", a.get("files_added", 0.0))
            add("manifest.meta_bytes_per_commit", a.get("meta_bytes", 0.0))
        if "files_live" in a:  # the time-travel reads
            add("fileindex.files_live", a["files_live"])
            add("fileindex.files_read", tot("scan_files"))
            add("fileindex.bytes_read", tot("scan_bytes"))
            if a["files_live"] > 0:
                add("fileindex.prune_ratio", 1.0 - tot("scan_files") / a["files_live"])
    for s in spans:
        n = s["name"]
        if n in SPAN_MS:
            add(f"{n}_ms", dur(s))
        if n.startswith("tx."):
            add("tx.jobs_per_commit", inclusive(s, "jobs"))
        if n == "mv.refresh":
            add("mv.jobs_per_refresh", inclusive(s, "jobs"))
        if n == "changefeed.pass":
            add("changefeed.rows_per_pass", s["attrs"].get("stream_rows", 0.0))
            add("changefeed.jobs_per_pass", inclusive(s, "jobs"))
            for phase, name in STREAM_PHASES:
                add(f"changefeed.{name}", s["attrs"].get(f"stream.{phase}", 0.0)
                    # a V1 source reports its latestOffset phase as getOffset
                    + (s["attrs"].get("stream.getOffset", 0.0) if phase == "latestOffset" else 0.0))
            add("changefeed.startup_ms", dur(s) - s["attrs"].get("stream.triggerExecution", 0.0))
    for op in ops:
        if "batches" in op["attrs"]:
            add("changefeed.batches_per_pass", op["attrs"]["batches"])
    single = {"tables.warm_s": detail.get("warm_s", 0.0),
              "tables.cached_mb": detail.get("cached_mb", 0.0),
              "tx.occ_retries": sum(op["attrs"].get("occ_retries", 0.0) for op in ops),
              "manifest.versions": detail.get("versions", 0.0)}
    for layer in LAYERS:
        single[f"self.{layer}_ms"] = 0.0
    for s in spans:
        layer = "bench" if s["parent"] == 0 else s["name"].split(".", 1)[0]
        own = dur(s) - _union([(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                               for c in kids.get(s["id"], [])])
        single[f"self.{layer}_ms"] = single.get(f"self.{layer}_ms", 0.0) + own
    ratio = detail.get("trace_overhead_ratio")
    plain = detail.get("untraced_latency_geomean_ms")
    if ratio is not None and plain:
        single["trace.overhead_ms"] = (ratio - 1.0) * plain
        single["trace.overhead_pct"] = 100.0 * (ratio - 1.0)
    return v, single


def per_layer(out_dir, res):
    with open(os.path.join(out_dir, "spans.jsonl")) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]
    dists, single = layer_values(spans, res["detail"])
    metrics = {}
    for name, unit, _ in spec():
        base, _, kind = name.rpartition(".")
        if kind == "p50":
            val = _p50(dists.get(base, []))
        elif kind == "total":
            val = sum(dists.get(base, []))
        else:
            val = single.get(name, 0.0)
        metrics[name] = {"value": float(val), "unit": unit}
    return metrics


E2E = [("setup_s", "s"), ("ops_per_s", "1/s"), ("latency_geomean_ms", "ms"),
       ("cpu_ms_per_op", "ms")]


def end_to_end(res):
    return {k: {"value": float(res["metrics"][k]), "unit": u} for k, u in E2E}


if __name__ == "__main__":
    d = sys.argv[1]
    with open(os.path.join(d, "result.json")) as fh:
        r = json.load(fh)
    for k, m in per_layer(d, r).items():
        print(f"{k:45s} {m['value']:14.3f} {m['unit']}")
