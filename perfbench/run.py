#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

Usage:
  python3 perfbench/run.py --workload bi_read|ingest_mixed|curation_ingest \
      --seed N --seconds S --trace 0|1 [--corrupt-reference]

Builds the benchmark from source on first use (see build.py), runs the
workload in one JVM (Spark local[nproc]), prints every metric with its
unit, and prints as the last line one JSON object:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, summarized from the span file by summarize.py. Exits
non-zero, printing no result, when the benchmark cannot be built or run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import summarize  # noqa: E402

WORKLOADS = ("bi_read", "ingest_mixed", "curation_ingest")

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# repository's build passes to forked mains).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def data_dir() -> str:
    """Generated tables, shared by every run while the generator is
    unchanged; tables of an older generator are removed."""
    gen = os.path.join(HERE, "src", "graft", "perfbench", "Data.scala")
    tag = build.digest([gen], "")[:12]
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    for d in os.listdir(base):
        if d.startswith("data-") and d != f"data-{tag}":
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return os.path.join(base, f"data-{tag}")


def deadline_s(seconds: float) -> float:
    """Wall time allowed for data generation and the workload JVM, counted
    after the build: set-up, the measured window and the answer checks."""
    return 140.0 + 2.0 * seconds


def run_jvm(classpath, workload, seed, seconds, trace, run_dir, data, a, t0):
    """Run the benchmark JVM once, killing it at the deadline; exit code."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temp files (native-library extraction) and JVM perf data stay
    # inside the checkout
    cmd = [build.java(), "-Xmx3g", "-Xss8m", "-XX:+UseG1GC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--out", run_dir, "--data", data,
            "--corrupt-reference", "1" if a.corrupt_reference else "0"]
    with open(os.path.join(run_dir, "jvm.log"), "a") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=run_dir, start_new_session=True)
        try:
            return proc.wait(timeout=max(10.0, deadline_s(a.seconds) - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return -1


def fail(run_dir) -> int:
    """Report a failed JVM run on stderr; no result is printed."""
    with open(os.path.join(run_dir, "jvm.log"), errors="replace") as fh:
        tail = fh.read()[-4000:]
    print(f"perfbench: run failed\n{tail}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    return 1


def fmt(v) -> str:
    return repr(v) if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="self-test: check answers against a corrupted "
                         "reference; the run must report failed ops")
    a = ap.parse_args()
    t_start = time.time()

    spec = bench_json()
    classpath = build.build(os.path.join(ROOT, ".bench_build", "perfbench"))
    t0 = time.time()
    run_dir = os.path.join(ROOT, ".bench_build", "perfbench", "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data = data_dir()
    if not os.path.exists(os.path.join(data, "_DONE")):
        if run_jvm(classpath, "generate", 0, 0, 0, run_dir, data, a, t0) != 0:
            return fail(run_dir)
    t1 = time.time()
    if run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace, run_dir,
               data, a, t0) != 0:
        return fail(run_dir)
    jvm_s = time.time() - t1
    result_path = os.path.join(run_dir, "result.json")
    if not os.path.exists(result_path):
        return fail(run_dir)
    with open(result_path) as fh:
        result = json.load(fh)

    last = os.path.join(ROOT, ".bench_build", "perfbench", "last")
    os.makedirs(last, exist_ok=True)
    shutil.copy(result_path, os.path.join(last, f"{a.workload}-t{a.trace}.json"))
    spans_path = os.path.join(run_dir, "spans.jsonl")
    layers = {}
    if a.trace:
        layers = summarize.summarize(spans_path, result)
        shutil.copy(spans_path, os.path.join(last, f"{a.workload}.spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    # the human-readable report: every metric with its unit
    print(f"# perfbench {a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace}")
    for section in ("e2e", "extra"):
        for k, m in result[section].items():
            print(f"{k} {fmt(m['value'])} {m['unit']}")
    for k, v in result["props"].items():
        if not isinstance(v, dict):
            print(f"prop.{k} {fmt(v)}")
    for k, (v, unit) in layers.items():
        print(f"{k} {fmt(v)} {unit}")
    print(f"jvm_process_s {jvm_s!r} s")
    print(f"run_total_s {time.time() - t_start!r} s")
    for e in result["errors"][:10]:
        print(f"error: {e}", file=sys.stderr)

    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": layers[n][0], "unit": layers[n][1]}
                   for n in names}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = {n: result["e2e"][n] for n in names}
    print(json.dumps({"correct": bool(result["correct"]),
                      "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]),
                      "metrics": metrics}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
