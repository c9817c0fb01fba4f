"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The fingerprint test compiles the harness (as a benchmark run does) and runs
`perfbench.FingerprintCheck` in a small local Spark session; it is skipped
when the graft sources or the Spark jars are not present."""
import glob
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_p90_withheld_below_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile_reported([float(i) for i in range(99)], 0.9))

    def test_p90_reported_with_ten_samples_beyond(self):
        xs = [float(i) for i in range(100)]
        v = metrics.percentile_reported(xs, 0.9)
        self.assertEqual(v, 89.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        xs = [1.0] * 95 + [2.0] * 9
        self.assertIsNone(metrics.percentile_reported(xs, 0.9))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_is_duration_minus_covered_child_interval(self):
        # children overlap each other and one sticks out of the parent
        span = (10.0, 20.0)
        kids = [(11.0, 13.0), (12.0, 14.0), (19.0, 25.0), (30.0, 31.0)]
        covered = (14.0 - 11.0) + (20.0 - 19.0)
        self.assertAlmostEqual(metrics.self_time(span, kids), 10.0 - covered)

    def test_no_children_means_whole_duration(self):
        self.assertAlmostEqual(metrics.self_time((1.0, 4.5), []), 3.5)

    def test_self_times_over_a_tree(self):
        tree = {"q": ("p", "query", 0.0, 10.0), "b": ("q", "queries.build", 0.0, 4.0),
                "a": ("q", "action", 4.0, 9.0), "j": ("a", "spark.job", 5.0, 8.0)}
        st = metrics.self_times(tree)
        self.assertAlmostEqual(st["q"], 1.0)
        self.assertAlmostEqual(st["a"], 2.0)
        self.assertAlmostEqual(st["j"], 3.0)


class OrderTest(unittest.TestCase):
    QUERIES = [f"q{i}" for i in range(40)]

    def test_seeded_order_is_a_reproducible_permutation(self):
        a = metrics.pass_orders(self.QUERIES, 7, 5)
        b = metrics.pass_orders(self.QUERIES, 7, 5)
        self.assertEqual(a, b)
        for order in a:
            self.assertEqual(sorted(order), sorted(self.QUERIES))
        self.assertNotEqual(a[0], a[1])

    def test_other_seed_other_order(self):
        self.assertNotEqual(metrics.pass_orders(self.QUERIES, 1, 1),
                            metrics.pass_orders(self.QUERIES, 2, 1))


class AtomicWriteTest(unittest.TestCase):
    def test_write_replaces_whole_document(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "out", "r.json")
            run.write_atomically(path, json.dumps({"a": 1}))
            run.write_atomically(path, json.dumps({"b": 2}))
            with open(path) as fh:
                self.assertEqual(json.load(fh), {"b": 2})
            self.assertEqual(os.listdir(os.path.dirname(path)), ["r.json"])


class WorkloadTest(unittest.TestCase):
    def test_every_workload_query_has_an_expected_fingerprint(self):
        expected = run.load_expected()
        self.assertIn("__warmup__", expected)
        for name, wl in run.load_workloads().items():
            missing = [q for q in wl["queries"] if q not in expected]
            self.assertEqual(missing, [], name)

    def test_benchmark_spec_lists_every_reported_layer(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"] for m in spec["per_layer"]}, set(metrics.PER_LAYER))
        workloads = run.load_workloads()
        benched = {w["name"] for w in spec["workloads"]}
        self.assertEqual(benched, {k for k, w in workloads.items() if not w.get("manual")})


@unittest.skipUnless(glob.glob(os.path.join(ROOT, "src/main/scala/graft/*.scala"))
                     and glob.glob(os.path.join(build.SPARK_JARS, "spark-sql_*.jar")),
                     "needs the graft sources and the Spark jars")
class FingerprintTest(unittest.TestCase):
    def test_fingerprint_changes_with_any_column_and_ignores_row_order(self):
        jar = build.ensure(ROOT)
        cmd = ["java", "-Xmx1g", run.NO_PERF_DATA] + [a for p in run.JVM_OPENS
                                     for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        tmp = os.path.join(ROOT, ".bench_build", "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                "-cp", build.classpath(jar), "perfbench.FingerprintCheck"]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:] + r.stderr[-3000:])
        self.assertIn("fingerprint checks passed", r.stdout)


if __name__ == "__main__":
    unittest.main()
