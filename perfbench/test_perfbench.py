#!/usr/bin/env python3
"""The benchmark's own tests.

  python3 perfbench/test_perfbench.py            # fast tests
  PERFBENCH_SLOW=1 python3 perfbench/test_perfbench.py   # + end-to-end

The slow tests build the benchmark and run it: one checks that answers
checked against a deliberately corrupted reference count as failed ops,
one that a directory holding only the benchmark (no graft sources)
fails without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import summarize  # noqa: E402

SLOW = os.environ.get("PERFBENCH_SLOW") == "1"
# graft.Bench documents that the harness keeps the last ~2000 chars
TAIL_CHARS = 2000


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def span(i, parent, op, name, layer, a, b, **attrs):
    return {"id": i, "parent": parent, "op": op, "name": name,
            "layer": layer, "start_ns": a, "end_ns": b, "attrs": attrs}


MS = 1_000_000


def write_spans(spans):
    f = tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False)
    for s in spans:
        f.write(json.dumps(s) + "\n")
    f.close()
    return f.name


class SummarizerTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [
            span(1, 0, 1, "op.write", "client", 0, 100 * MS, kind="merge"),
            span(2, 1, 1, "sql.merge", "sql", 10 * MS, 90 * MS),
            # synthetic: recorded under the root, belong inside sql.merge
            span(3, 1, 1, "plan.analysis", "plan", 10 * MS, 20 * MS),
            span(4, 1, 1, "exec.job", "exec", 30 * MS, 60 * MS),
            span(5, 1, 1, "exec.job", "exec", 50 * MS, 70 * MS),
            # a listing job inside the planning phase
            span(6, 1, 1, "exec.job", "exec", 12 * MS, 16 * MS),
        ]
        st = summarize.self_times(summarize.reparent(spans))
        self.assertEqual(st[1], 20 * MS)            # 100 - sql.merge 80
        self.assertEqual(st[2], 80 * MS - 50 * MS)  # minus plan 10, jobs 40
        self.assertEqual(st[3], 6 * MS)             # plan 10 - listing job 4
        self.assertEqual(st[4], 30 * MS)

    def test_union_clips_to_parent(self):
        self.assertEqual(summarize.union_ns([(0, 10), (5, 20), (30, 40)], 8, 35), 17)

    def test_every_per_layer_metric_is_produced(self):
        path = write_spans([
            span(1, 0, 1, "op.read", "client", 0, 50 * MS, template="stats_fold",
                 files_read=0, live_files=83, jobs=0, local_scans=1),
            span(2, 0, 2, "op.batch", "client", 0, 900 * MS, candidate_pairs=4,
                 cluster_dropped=2),
            span(3, 2, 2, "dedup.ingest_novel", "dedup", 100 * MS, 800 * MS),
        ])
        try:
            m = summarize.summarize(path, {"props": {}})
        finally:
            os.unlink(path)
        for x in spec()["per_layer"]:
            self.assertIn(x["name"], m)
            self.assertEqual(m[x["name"]][1], x["unit"], x["name"])
        self.assertEqual(m["mv.fold_zero_job_ratio"][0], 1.0)
        self.assertEqual(m["dedup.pair_yield"][0], 0.5)
        self.assertEqual(m["self.dedup_ms"][0], 350.0)


class OutputTest(unittest.TestCase):
    def test_end_to_end_line_fits_the_tail(self):
        # worst case: every value printed with 17 significant digits
        metrics = {m["name"]: {"value": -1.2345678901234567e+123, "unit": m["unit"]}
                   for m in spec()["end_to_end"]}
        line = json.dumps({"correct": False, "attempted": 10 ** 9,
                           "failed": 10 ** 9, "metrics": metrics},
                          separators=(",", ":"))
        self.assertLess(len(line), TAIL_CHARS, len(line))

    def test_contract_shape(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds",
                                  "workloads", "end_to_end", "per_layer"})
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)
        self.assertTrue(all(m["bound"] <= 0.25 for m in s["end_to_end"]))
        self.assertEqual(max(s["end_to_end"], key=lambda m: m["bound"])["bound"],
                         next(m for m in s["end_to_end"] if m["name"] == "setup_s")["bound"])


def run_bench(cwd, *args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True, timeout=400)


@unittest.skipUnless(SLOW, "set PERFBENCH_SLOW=1")
class EndToEndTest(unittest.TestCase):
    def test_corrupted_reference_counts_failed_ops(self):
        for w in ("bi_read", "ingest_mixed", "curation_ingest"):
            r = run_bench(ROOT, "--workload", w, "--seed", "5", "--seconds", "3",
                          "--trace", "0", "--corrupt-reference")
            self.assertEqual(r.returncode, 0, r.stderr[-2000:])
            out = json.loads(r.stdout.strip().splitlines()[-1])
            self.assertGreater(out["failed"], 0, w)
            self.assertFalse(out["correct"], w)

    def test_bare_benchmark_directory_fails_without_result(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = run_bench(d, "--workload", "bi_read", "--seed", "1",
                          "--seconds", "1", "--trace", "0")
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
