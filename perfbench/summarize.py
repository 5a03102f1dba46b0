#!/usr/bin/env python3
"""Turn a traced run's span file into the per-layer metrics.

A span is one JSON object per line: id, parent, op, name, layer,
start_ns, end_ns, attrs. Client operations are the root spans
(`op.read`, `op.write`, `op.batch`); the benchmark records explicit
spans around each call it makes into a graft layer, plus synthetic spans
built from Spark's own timestamps (`plan.<phase>` from the query
planning tracker, `exec.job` from the listener). Synthetic spans are
re-parented to the innermost explicit span of their op that contains
them, so a layer's self time (its span minus the part its children
cover) is not counted twice.

Usage: python3 perfbench/summarize.py SPANS.jsonl RESULT.json
"""
import json
import statistics
import sys

TEMPLATES = ("pruned_range", "point_lookup", "stats_fold", "mv_rollup",
             "star_join", "full_agg")
WRITE_KINDS = ("append", "append_unique", "delete", "update", "merge",
               "compact_minor")
LAYERS = ("client", "plan", "exec", "sql", "table", "text", "dedup")
STEPS = (("text.score", "text.score_ms"), ("dedup.exact", "dedup.exact_ms"),
         ("dedup.candidates", "dedup.candidates_ms"),
         ("dedup.cluster", "dedup.cluster_ms"),
         ("dedup.ingest_novel", "dedup.ingest_novel_ms"))


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def union_ns(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                 if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def synthetic(s):
    return s["name"].startswith("plan.") or s["name"] == "exec.job"


def reparent(spans):
    """Attach each synthetic span to the innermost span of its op that
    contains it (1 ms slack: Spark stamps milliseconds). A job can sit
    inside a planning phase (file listing during optimization), so
    planning spans are containers too; jobs never are."""
    slack = 1_000_000
    containers = {}
    for s in spans:
        if s["name"] != "exec.job":
            containers.setdefault(s["op"], []).append(s)
    for s in spans:
        if synthetic(s):
            inside = [e for e in containers.get(s["op"], ())
                      if e is not s and not (synthetic(e) and synthetic(s)
                                             and s["name"].startswith("plan."))
                      and e["start_ns"] - slack <= s["start_ns"]
                      and s["end_ns"] <= e["end_ns"] + slack]
            if inside:
                s["parent"] = min(inside, key=lambda e: e["end_ns"] - e["start_ns"])["id"]
    return spans


def self_times(spans):
    """span id -> self time in ns."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ch = [(c["start_ns"], c["end_ns"]) for c in kids.get(s["id"], ())]
        dur = s["end_ns"] - s["start_ns"]
        out[s["id"]] = max(0, dur - union_ns(ch, s["start_ns"], s["end_ns"]))
    return out


def med(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def ratio(a, b):
    return a / b if b else 0.0


def summarize(spans_path, result):
    """Per-layer metrics as {name: (value, unit)}."""
    spans = reparent(load(spans_path))
    props = result.get("props", {})
    st = self_times(spans)
    roots = [s for s in spans if s["parent"] == 0 and s["name"].startswith("op.")]
    ms = lambda s: (s["end_ns"] - s["start_ns"]) / 1e6  # noqa: E731
    attrs = lambda s, k, d=0: s["attrs"].get(k, d)  # noqa: E731
    reads = [s for s in roots if s["name"] == "op.read"]
    writes = [s for s in roots if s["name"] == "op.write"]
    batches = [s for s in roots if s["name"] == "op.batch"]
    op_root = {s["op"]: s for s in roots}
    m = {}

    # planning: Spark's tracker phases, graft's own rules, driver-only
    for phase, name in (("parsing", "parse"), ("analysis", "analysis"),
                        ("optimization", "optimization"),
                        ("planning", "planning")):
        m[f"plan.{name}_ms"] = (mean([attrs(s, f"plan_{phase}") for s in reads]), "ms")
    m["plan.graft_rules_ms"] = (mean([attrs(s, "plan_graft_rules") for s in reads]), "ms")
    jobs_of = {}
    for s in spans:
        if s["name"] == "exec.job":
            jobs_of.setdefault(s["op"], []).append((s["start_ns"], s["end_ns"]))
    m["plan.driver_only_ms"] = (mean([
        (s["end_ns"] - s["start_ns"] - union_ns(jobs_of.get(s["op"], []),
                                                s["start_ns"], s["end_ns"])) / 1e6
        for s in reads]), "ms")

    # graft.table reads
    def files_ratio(ss):
        return mean([ratio(attrs(s, "files_read"), attrs(s, "live_files")) for s in ss])
    m["table.files_read_ratio"] = (files_ratio(reads), "ratio")
    for t in TEMPLATES:
        ts = [s for s in reads if attrs(s, "template", "") == t]
        m[f"table.files_read_ratio.{t}"] = (files_ratio(ts), "ratio")
    m["table.rows_scanned_per_row_returned"] = (mean([
        ratio(attrs(s, "rows_scanned"), max(1, attrs(s, "rows_returned")))
        for s in reads]), "ratio")
    segs = [attrs(s, "segments_live") for s in reads + writes if "segments_live" in s["attrs"]]
    m["table.segments_live_min"] = (float(min(segs)) if segs else 0.0, "count")
    m["table.segments_live_mean"] = (mean(segs), "count")
    m["table.segments_live_max"] = (float(max(segs)) if segs else 0.0, "count")

    # graft.table writes
    for k in WRITE_KINDS:
        m[f"table.commit_ms.{k}"] = (med([ms(s) for s in writes if attrs(s, "kind", "") == k]), "ms")
    m["table.write_amp"] = (ratio(sum(attrs(s, "bytes_written") for s in writes),
                                  sum(attrs(s, "user_bytes") for s in writes)), "ratio")
    dml = [s for s in writes if attrs(s, "kind", "") in ("delete", "update", "merge")]
    m["table.dml_segments_rewritten_ratio"] = (
        ratio(sum(attrs(s, "segments_retired") for s in dml),
              sum(attrs(s, "segments_live_before") for s in dml)), "ratio")
    m["table.compact_bytes_rewritten"] = (float(sum(
        attrs(s, "retired_bytes") for s in writes
        if attrs(s, "kind", "") == "compact_minor")), "bytes")

    # graft.mv
    mv = [s for s in reads if attrs(s, "template", "") == "mv_rollup"]
    m["mv.rewrite_hit_ratio"] = (mean([1.0 if attrs(s, "mv_hit", False) else 0.0 for s in mv]), "ratio")
    fold = [s for s in reads if attrs(s, "template", "") == "stats_fold"]
    m["mv.fold_zero_job_ratio"] = (mean([1.0 if attrs(s, "jobs") == 0 else 0.0 for s in fold]), "ratio")
    m["mv.fold_local_scan_ratio"] = (mean([1.0 if attrs(s, "local_scans") > 0 else 0.0 for s in fold]), "ratio")
    m["mv.refresh_bytes_per_commit"] = (mean([attrs(s, "mv_bytes_written") for s in writes]), "bytes")

    # graft.sql / graftbridge
    m["sql.dml_plan_ms"] = (mean([attrs(s, "dml_plan_ms") for s in dml]), "ms")
    m["sql.dml_driver_only_ms"] = (mean([
        (s["end_ns"] - s["start_ns"] - union_ns(jobs_of.get(s["op"], []),
                                                s["start_ns"], s["end_ns"])) / 1e6
        for s in dml]), "ms")

    # Spark execution under graft, per client operation
    for key, name, unit in (("jobs", "exec.jobs_per_op", "count"),
                            ("stages", "exec.stages_per_op", "count"),
                            ("tasks", "exec.tasks_per_op", "count"),
                            ("executor_run_ms", "exec.executor_run_ms", "ms"),
                            ("executor_cpu_ms", "exec.executor_cpu_ms", "ms"),
                            ("gc_ms", "exec.gc_ms", "ms"),
                            ("shuffle_read_bytes", "exec.shuffle_read_bytes", "bytes"),
                            ("shuffle_write_bytes", "exec.shuffle_write_bytes", "bytes"),
                            ("spill_bytes", "exec.spill_bytes", "bytes")):
        m[name] = (mean([float(attrs(s, key)) for s in roots]), unit)
    m["exec.driver_gc_ms"] = (ratio(props.get("trace.driver_gc_ms_total", 0), len(roots)), "ms")

    # graft.text / graft.functions / graft.dedup
    for step, name in STEPS:
        m[name] = (med([ms(s) for s in spans if s["name"] == step]), "ms")
    pairs = sum(attrs(s, "candidate_pairs") for s in batches)
    m["dedup.candidate_pairs"] = (mean([attrs(s, "candidate_pairs") for s in batches]), "count")
    m["dedup.pair_yield"] = (ratio(sum(attrs(s, "cluster_dropped") for s in batches), pairs), "ratio")
    m["dedup.index_rebuilds"] = (float(props.get("index_rebuilds", 0)), "count")
    m["dedup.band_index_rows"] = (float(props.get("band_index_rows", 0)), "count")

    # per operation type
    for t in TEMPLATES:
        m[f"bi.{t}.p50_ms"] = (med([ms(s) for s in reads if attrs(s, "template", "") == t]), "ms")

    # self time per layer, per client operation
    for layer in LAYERS:
        tot = sum(st[s["id"]] for s in spans if s["layer"] == layer and s["op"] in op_root)
        m[f"self.{layer}_ms"] = (ratio(tot / 1e6, len(roots)), "ms")

    # tracing overhead: the traced middle half of this run against its
    # untraced first and last quarters
    plain, traced = props.get("trace.plain", {}), props.get("trace.traced", {})
    for k, name in (("read_p50_ms", "trace.overhead_read_p50_pct"),
                    ("commit_p50_ms", "trace.overhead_commit_p50_pct")):
        a, b = plain.get(k) or 0.0, traced.get(k) or 0.0
        m[name] = (100.0 * (b - a) / a if a else 0.0, "%")
    m["trace.spans"] = (float(len(spans)), "count")
    m["trace.ops"] = (float(len(roots)), "count")
    return m


def main():
    with open(sys.argv[2]) as fh:
        result = json.load(fh)
    for k, (v, unit) in summarize(sys.argv[1], result).items():
        print(f"{k} {v!r} {unit}")


if __name__ == "__main__":
    main()
