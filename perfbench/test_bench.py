"""Self-tests of the benchmark's own code: metric arithmetic, failure
accounting, span self time, output digests and the point generator.

    python3 perfbench/test_bench.py
    PERFBENCH_E2E=1 python3 perfbench/test_bench.py   # + a real failing run
"""
import filecmp
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import metrics  # noqa: E402
import points  # noqa: E402
import run  # noqa: E402


def span(id, start, end, kind="op", name="q", round=1, parent=0, error="", traced=False):
    return dict(id=id, parent=parent, kind=kind, name=name, round=round, traced=traced,
                start_us=start, end_us=end, error=error)


def raw_record(spans):
    return dict(spans=spans, jobs=[], stages=[], round_stats=[], csv_fits=[], probes_ms={},
                setup_s=[3.0, 1.0, 2.0], session_start_s=[1.0], peak_rss_kb=2048,
                live_heap_mb=120.0)


SPEC = {"end_to_end": [{"name": n} for n in
                       ("setup_s", "cold_round_s", "round_s", "op_geomean_ms")],
        "per_layer": [{"name": "failed_frac"}]}


class Arithmetic(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(metrics.median([7.5]), 7.5)
        with self.assertRaises(ValueError):
            metrics.median([])

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1, 100]), 10)
        self.assertAlmostEqual(metrics.geomean([2, 8, 4]), 4)
        with self.assertRaises(ValueError):
            metrics.geomean([1, 0])

    def test_percentile(self):
        self.assertEqual(metrics.percentile(range(1, 101), 95), 95)
        self.assertEqual(metrics.percentile([5], 95), 5)


class SelfTime(unittest.TestCase):
    def test_children_overlapping_and_clipped(self):
        parent = span(1, 0, 100)
        kids = [span(2, 10, 30), span(3, 20, 40), span(4, 90, 120), span(5, 50, 50)]
        # covered: [10, 40) and [90, 100) -> 40 of 100
        self.assertEqual(metrics.self_time_us(parent, kids), 60)

    def test_no_children(self):
        self.assertEqual(metrics.self_time_us(span(1, 5, 25), []), 20)

    def test_disjoint_children(self):
        self.assertEqual(metrics.union_us([(0, 10), (20, 30), (25, 26)], 0, 100), 20)


class TraceOverhead(unittest.TestCase):
    def test_warm_up_round_is_in_neither_group(self):
        # rounds 1 and 2 (untraced, slow: warm-up), then off, on, on, off
        spans, ms = [], {1: 500, 2: 300, 3: 100, 4: 110, 5: 110, 6: 100}
        for r, d in ms.items():
            b = r * 10**6
            traced = r in (4, 5)
            spans += [span(10 * r, b, b + d * 1000, kind="round", round=r, traced=traced),
                      span(10 * r + 1, b, b + d * 1000, round=r, traced=traced)]
        raw = dict(raw_record(spans), round_stats=[
            dict(round=r, gc_s=0, cpu_s=0, codegen_compiles=0) for r in ms])
        layer = metrics.per_layer(raw, ["trace.overhead_frac"], 4, 6, 0)
        self.assertAlmostEqual(layer["trace.overhead_frac"], 0.1)


class FailureAccounting(unittest.TestCase):
    def rounds(self, err):
        spans = [span(1, 0, 300, kind="round", round=0), span(2, 0, 100, round=0),
                 span(3, 100, 300, round=0, name="bad", error=err)]
        for r in (1, 2, 3, 4):
            b = r * 1000
            spans += [span(10 * r, b, b + 300, kind="round", round=r),
                      span(10 * r + 1, b, b + 100, round=r),
                      span(10 * r + 2, b + 100, b + 300, round=r, name="bad", error=err)]
        return raw_record(spans)

    def test_thrown_operation_fails_the_run(self):
        raw = self.rounds("java.lang.IllegalStateException")
        attempted, failed, failures = metrics.accounting(raw, [])
        self.assertEqual((attempted, failed), (10, 5))
        self.assertEqual(failures[0]["error"], "java.lang.IllegalStateException")
        layer = metrics.per_layer(raw, ["failed_frac"], 4, attempted, failed)
        self.assertGreater(layer["failed_frac"], 0)
        # failed executions are excluded from the medians
        e2e = metrics.end_to_end(raw)
        self.assertAlmostEqual(e2e["op_geomean_ms"][0], 0.1)
        result = {"failed": failed, "metrics": {m: 1 for m in e2e}}
        self.assertNotEqual(run.exit_code(result, SPEC, 0), 0)

    def test_wrong_output_fails_the_run(self):
        raw = self.rounds("")
        attempted, failed, _ = metrics.accounting(raw, [{"name": "q", "error": "check: digest"}])
        self.assertEqual((attempted, failed), (10, 1))
        self.assertNotEqual(run.exit_code({"failed": failed, "metrics": {}}, SPEC, 1), 0)

    def test_clean_run_passes(self):
        raw = self.rounds("")
        attempted, failed, _ = metrics.accounting(raw, [])
        e2e = metrics.end_to_end(raw)
        self.assertEqual(failed, 0)
        self.assertEqual(e2e["setup_s"][0], 2.0)
        self.assertAlmostEqual(e2e["round_s"][0], 300e-6)
        self.assertEqual(run.exit_code({"failed": 0, "metrics": e2e}, SPEC, 0), 0)

    @unittest.skipUnless(os.environ.get("PERFBENCH_E2E"), "set PERFBENCH_E2E=1")
    def test_real_run_with_a_throwing_operation_exits_non_zero(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            "corpus", "--seed", "1", "--seconds", "1", "--inject-failure"],
                           stdout=subprocess.PIPE, text=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertIn('"correct": false', r.stdout.splitlines()[-1])


class Digest(unittest.TestCase):
    def test_canonical_form_ignores_column_and_row_order(self):
        a = checks.digest(pd.DataFrame({"b": [1, None], "a": [0.5, 2.0]}))
        b = checks.digest(pd.DataFrame({"a": [2.0, 0.5], "b": [None, 1]}))
        self.assertEqual(a, b)
        self.assertNotEqual(a, checks.digest(pd.DataFrame({"a": [2.0, 0.5], "b": [None, 2]})))

    def test_floats_digest_at_ten_significant_digits(self):
        self.assertEqual(checks.digest(pd.DataFrame({"x": [0.1 + 0.2]})),
                         checks.digest(pd.DataFrame({"x": [0.3]})))
        self.assertNotEqual(checks.digest(pd.DataFrame({"x": [1234567.891]})),
                            checks.digest(pd.DataFrame({"x": [1234567.892]})))

    def test_fit_check(self):
        cs = [(0.0, 0.0), (10.0, 0.0)]
        fit = dict(converged=True, iterations=3, points=10,
                   centroids=[[1, 10.01, 0.0], [2, 0.02, -0.01]])
        self.assertIsNone(checks.check_fit(fit, cs, 10))
        self.assertIn("from its blob", checks.check_fit(
            dict(fit, centroids=[[1, 5.0, 0.0], [2, 0.0, 0.0]]), cs, 10))
        self.assertIn("not converged", checks.check_fit(dict(fit, converged=False), cs, 10))
        self.assertIn("points", checks.check_fit(fit, cs, 11))


class Spec(unittest.TestCase):
    def test_every_layer_metric_names_what_it_moves(self):
        import json
        spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
        layers = json.load(open(os.path.join(HERE, "layers.json")))
        self.assertEqual([m["name"] for m in spec["per_layer"]], list(layers))
        e2e = {m["name"] for m in spec["end_to_end"]} | {"failed"}
        workloads = {w["name"] for w in spec["workloads"]}
        for name, layer in layers.items():
            self.assertLessEqual(set(layer["moves"]), e2e, name)
            self.assertLessEqual(set(layer["workloads"]), workloads, name)


class Generator(unittest.TestCase):
    def setUp(self):
        os.makedirs(build.build_dir(), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=build.build_dir())

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_gives_byte_identical_files(self):
        p1, c1 = points.write(7, os.path.join(self.tmp, "a"))
        p2, c2 = points.write(7, os.path.join(self.tmp, "b"))
        p3, _ = points.write(8, os.path.join(self.tmp, "c"))
        self.assertEqual(c1, c2)
        self.assertEqual(len(p1), points.FILES)
        for x, y, z in zip(p1, p2, p3):
            self.assertTrue(filecmp.cmp(x, y, shallow=False))
            self.assertFalse(filecmp.cmp(x, z, shallow=False))

    def test_rows_parse_and_some_are_ragged(self):
        paths, cs = points.write(7, os.path.join(self.tmp, "a"))
        lines = [l for p in paths for l in open(p).read().splitlines()]
        self.assertEqual(len(lines), points.FILES * points.POINTS_PER_FILE)
        self.assertTrue(all(len(l.split(",")) == 2 for l in lines))
        self.assertTrue(all(float(v) for l in lines for v in l.split(",")))
        ragged = [l for l in lines if l != l.replace(" ", "")]
        self.assertGreater(len(ragged), len(lines) // 200)
        self.assertEqual(len(cs), points.K)


if __name__ == "__main__":
    unittest.main()
