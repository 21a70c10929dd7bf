"""Tests of the benchmark's own helpers.

    python3 -m unittest perfbench/test_bench.py

The JVM-side helpers (output digest, job-group attribution) are tested by
graftbench.SelfTest, which the last test builds and runs.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_refuses_p90_with_fewer_than_ten_samples_above(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertIsNone(stats.percentile([1.0] * 50, 0.9))

    def test_p90_with_ten_samples_above(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(sum(1 for x in xs if x > 90), 10)

    def test_order_of_input_does_not_matter(self):
        xs = [5, 3, 9, 1, 7] * 30
        self.assertEqual(stats.percentile(xs, 0.5), stats.percentile(sorted(xs), 0.5))


class SelfTimeTest(unittest.TestCase):
    def span(self, id_, parent, start, end):
        return {"id": id_, "parent": parent, "start_ns": start, "end_ns": end}

    def test_subtracts_union_of_overlapping_children(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 50),
                 self.span(2, 0, 30, 70),   # overlaps child 1 on [30, 50]
                 self.span(3, 0, 90, 120)]  # runs past the parent's end
        st = stats.self_times(spans)
        # children cover [10, 70] and [90, 100] inside the parent: 70 ns
        self.assertEqual(st[0], 30)
        self.assertNotEqual(st[0], 100 - (40 + 40 + 30))

    def test_leaf_self_time_is_its_duration(self):
        st = stats.self_times([self.span(0, -1, 5, 25)])
        self.assertEqual(st[0], 20)

    def test_grandchildren_do_not_count_for_the_grandparent(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 0, 10), self.span(2, 1, 0, 10),
                 self.span(3, 1, 50, 60)]
        self.assertEqual(stats.self_times(spans)[0], 90)


class AttributionTest(unittest.TestCase):
    def test_ancestor_walks_to_the_wanted_span(self):
        parents = {0: -1, 1: 0, 2: 1, 3: -1}
        self.assertEqual(stats.ancestor(2, parents, {0}), 0)
        self.assertEqual(stats.ancestor(2, parents, {1, 0}), 1)
        self.assertIsNone(stats.ancestor(3, parents, {0}))
        self.assertIsNone(stats.ancestor(-1, parents, {0}))


class OutputCheckTest(unittest.TestCase):
    def test_mismatch_error_and_missing_golden_all_fail(self):
        goldens = {"queries": {"a": {"rows": 2, "digest": "00ff"},
                               "b": {"rows": 1, "digest": "0001"}}}
        res = {"checks": [
            {"name": "a", "rows": 2, "digest": "00ff", "error": None},
            {"name": "b", "rows": 1, "digest": "0002", "error": None},
            {"name": "c", "rows": 1, "digest": "0003", "error": None},
            {"name": "d", "rows": -1, "digest": None, "error": "boom"}]}
        self.assertEqual(sorted(run.check_outputs(res, goldens)), ["b", "c", "d"])


class WallTest(unittest.TestCase):
    def test_wall_is_the_sum_of_per_query_median_latencies(self):
        def q(name, s):
            return {"name": name, "build_s": s, "action_s": 0.0, "error": None}
        passes = [{"wall_s": 9.0, "cpu_s": 1.0, "queries": [q("a", 1.0), q("b", 5.0)]},
                  {"wall_s": 4.0, "cpu_s": 1.0, "queries": [q("a", 3.0), q("b", 1.0)]},
                  {"wall_s": 5.0, "cpu_s": 1.0, "queries": [q("a", 2.0), q("b", 2.0)]}]
        e2e, lat = run.end_to_end({"setup_end_ms": 0, "peak_rss_mb": 1.0}, 0.0, passes, 0, 6)
        self.assertEqual(e2e["wall_s"][0], 4.0)
        self.assertEqual(len(lat), 6)


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_names_match_what_run_reports(self):
        spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        res = {"setup_end_ms": 2000, "peak_rss_mb": 1.0}
        passes = [{"wall_s": 1.0, "cpu_s": 1.0, "queries": [
            {"name": "a", "build_s": 0.25, "action_s": 0.5, "error": None}]}]
        e2e, _ = run.end_to_end(res, 1.0, passes, 0, 1)
        self.assertEqual(sorted(m["name"] for m in spec["end_to_end"]), sorted(e2e))
        self.assertEqual(sorted(m["name"] for m in spec["per_layer"]), sorted(run.PER_LAYER_UNITS))
        for m in spec["end_to_end"]:
            self.assertEqual(m["unit"], e2e[m["name"]][1])
        for m in spec["per_layer"]:
            self.assertEqual(m["unit"], run.PER_LAYER_UNITS[m["name"]])


class JvmSelfTest(unittest.TestCase):
    def test_digest_and_job_attribution(self):
        cp = build.classpath()
        scratch = Path(__file__).resolve().parent / ".work"
        scratch.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as work:
            cmd = (["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"]
                   + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                   + ["-cp", cp, "graftbench.SelfTest", work])
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
        print(r.stdout, file=sys.stderr)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertNotIn("FAIL", r.stdout)


if __name__ == "__main__":
    os.chdir(Path(__file__).resolve().parent.parent)
    unittest.main()
