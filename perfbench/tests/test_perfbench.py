"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The unit tests need only Python. The runner test builds the program (the
first time) and starts one JVM, about a minute.
"""
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(BENCH, ".work", "tests")


def scratch():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(dir=SCRATCH)


class RunnerFailures(unittest.TestCase):
    """A query that throws or returns a wrong result is a failed operation:
    named, counted, without a timing sample, and the run exits non-zero."""

    def test_stub_failures_are_counted_and_give_no_sample(self):
        rec_dir = scratch()
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"),
             "--workload", "olap_mix", "--seed", "5", "--seconds", "0",
             "--trace", "0", "--record", rec_dir, "--queries",
             "q01_pricing_summary,stub_throws,stub_wrong"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual((last["correct"], last["attempted"], last["failed"]),
                         (False, 3, 2))
        [rec_path] = [f for f in os.listdir(rec_dir) if f.endswith(".json")]
        with open(os.path.join(rec_dir, rec_path)) as f:
            rec = json.load(f)
        self.assertEqual(sorted(rec["failed_ops"]),
                         ["stub_throws", "stub_wrong"])
        self.assertIn("stub query throws", rec["failed_ops"]["stub_throws"])
        self.assertIn("rows 3 != 4", rec["failed_ops"]["stub_wrong"])
        self.assertAlmostEqual(rec["fail_frac"], 2 / 3)
        for p_ in rec["passes"]:
            self.assertEqual([q["name"] for q in p_["queries"]],
                             ["q01_pricing_summary"])
        shutil.rmtree(rec_dir)


class OutsideSourceTree(unittest.TestCase):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    benchmark exits non-zero without printing a result."""

    def test_refuses(self):
        d = scratch()
        shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target",
                                                      "project"))
        if os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "olap_mix",
             "--seed", "1", "--seconds", "10", "--trace", "0"],
            cwd=d, capture_output=True, text=True, timeout=60)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")
        shutil.rmtree(d)


class Inputs(unittest.TestCase):
    def test_layout_is_seeded(self):
        self.assertEqual(gen.layout(0, 5)[1], 1)
        self.assertEqual(list(gen.layout(0, 5)[0]), [0, 1, 2, 3, 4])
        a, b = gen.layout(7, 1000), gen.layout(7, 1000)
        self.assertEqual((list(a[0]), a[1]), (list(b[0]), b[1]))
        self.assertNotEqual(list(gen.layout(8, 1000)[0]), list(a[0]))

    def test_staging_keeps_the_rows(self):
        import pyarrow.parquet as pq
        tables = gen.corpus(0.001)
        d = scratch()
        gen.stage(tables, d, 11)
        for name in gen.TABLES:
            got = pq.read_table(os.path.join(d, f"{name}.parquet"))
            self.assertEqual(sorted(map(repr, got.to_pylist())),
                             sorted(map(repr, tables[name].to_pylist())),
                             name)
        shutil.rmtree(d)


class Report(unittest.TestCase):
    @staticmethod
    def rec(cpus, value, workload="olap_mix"):
        return {"workload": workload, "trace": 0, "seed": 1,
                "host_cpus": cpus, "attempted": 1, "failed": 0,
                "metrics": {"warm_pass_s": {"value": value, "unit": "s"}}}

    def test_spread_uses_python_quartiles(self):
        vals = [1.0, 1.2, 0.9, 1.1, 1.05, 0.95, 1.3, 1.0, 0.98, 1.02]
        n, med, q1, q3, sp = report.stats(vals)
        eq1, _, eq3 = statistics.quantiles(vals, n=4)
        self.assertEqual((n, q1, q3), (10, eq1, eq3))
        self.assertAlmostEqual(sp, (eq3 - eq1) / statistics.median(vals))

    def test_compare_refuses_other_host_cpus(self):
        out = io.StringIO()
        rc = report.compare([self.rec(32, 1.0)], [self.rec(4, 2.0)],
                            cross_host=False, out=out)
        self.assertEqual(rc, 2)
        self.assertIn("refused", out.getvalue())
        out = io.StringIO()
        report.compare([self.rec(32, 1.0)], [self.rec(4, 2.0)],
                       cross_host=True, out=out)
        self.assertIn("CROSS-HOST", out.getvalue())


class MetricNames(unittest.TestCase):
    def test_benchmark_json_lists_what_run_py_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        fake = {"passes": [{"kind": "cold", "wall_s": 1.0, "cpu_s": 1.0,
                            "streams": [],
                            "layers": {}}], "peak_rss_mb": 1.0}
        self.assertEqual(sorted(m["name"] for m in spec["end_to_end"]),
                         sorted(run.end_to_end(fake, 1.0)))
        self.assertEqual([m["name"] for m in spec["per_layer"]],
                         [n for n, _ in run.per_layer_names()])
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(run.WORKLOADS))

    def test_every_module_memo_and_stream_is_timed(self):
        timed = {m for w in run.WORKLOADS.values() for m in w["queries"]}
        self.assertEqual(timed, set(run.MODULES))
        self.assertEqual(sorted(run.STREAMS), ["ingest_recs"])
        grouped = [m for ms in run.COVERAGE.values() for m in ms]
        self.assertEqual(sorted(grouped), sorted(run.MODULES))


if __name__ == "__main__":
    unittest.main()
