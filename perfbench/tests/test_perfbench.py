"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The store test builds the library and runs one small pipeline twice (about
a minute); the others need no JVM.
"""
import json
import shutil
import sys
import time
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        self.spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())

    def test_names_every_metric_with_its_unit(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]], run.PER_LAYER)
        for layer in run.LAYERS:
            for metric, _ in run.LAYER_METRICS:
                self.assertIn(f"{layer}.{metric}", dict(run.PER_LAYER))

    def test_workloads_exist_and_setup_bound_is_largest(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertLessEqual(max(bounds.values()), 0.25)

    def test_result_line_carries_exactly_the_named_metrics(self):
        def fake(pipeline_s, timed=True, traced=False, cold=False):
            r = {name: 1.0 for name, _ in run.PER_LAYER}
            r.update(ok=True, timed=timed, traced=traced, cold=cold, pipeline_s=pipeline_s,
                     mentions=1000, retained_heap_mb=400.0)
            return r
        for trace, table in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            runs = [fake(30.0, cold=True), fake(16.0)]
            if trace:
                runs.append(fake(17.5, traced=True))
            attempted, failed, metrics = run.aggregate({"setup_s": 6.0, "runs": runs}, trace)
            self.assertEqual((attempted, failed), (2 + trace, 0))
            self.assertEqual({k: m["unit"] for k, m in metrics.items()}, dict(table))
        # the overhead compares runs in the same state, not the cold first one
        self.assertAlmostEqual(metrics["trace.overhead_s"]["value"], 1.5)

    def test_a_failed_check_counts(self):
        runs = [{"ok": True, "timed": False, "traced": False, "cold": True, "pipeline_s": 30.0,
                 "mentions": 10, "retained_heap_mb": 1.0},
                {"ok": False, "timed": True, "traced": False, "cold": False}]
        attempted, failed, metrics = run.aggregate({"setup_s": 6.0, "runs": runs}, 0)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertEqual(metrics["success_frac"]["value"], 0.5)


class SelfTest(unittest.TestCase):
    def test_wrapped_store_and_resume_layout(self):
        """The wrapped store commits the same stage rows as TableIO, and the
        resume layout leaves components and clusters uncommitted."""
        try:
            classpath, _ = run.build()
        except run.BenchError as e:
            self.skipTest(str(e))
        work = run.BUILD / "selftest"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        try:
            res = run.run_jvm(classpath, work, "selftest", time.monotonic() + 600,
                              seed=7, convs=300, typo=0.3, multi=0.3, table=0.3)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertTrue(res.get("ok"), res)
        self.assertEqual(res["stage_rows_tableio"], res["stage_rows_traced"])
        self.assertEqual(sorted(res["resume_layout"]),
                         sorted(["mentions", "keyed", "linked", "scored", "edges"]))


if __name__ == "__main__":
    unittest.main()
