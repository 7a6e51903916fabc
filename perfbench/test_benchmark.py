"""Checks of BENCHMARK.json against the benchmark's own contract.

Run from the repository root: python3 -m unittest perfbench/test_benchmark.py
"""

import json
import os
import re
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = ["setup_s", "first_result_ms", "freshness_p50_ms",
              "freshness_p99_ms", "drain_eps", "registry_total_s",
              "query_p50_s", "query_p90_s", "driver_retained_mb"]
PER_LAYER = [
    "failed_ops_frac",
    "api.create_ms", "api.next_us_per_record", "api.poll_hit_ratio",
    "streaming.batches", "streaming.trigger_ms", "streaming.planning_ms",
    "streaming.add_batch_ms", "streaming.offsets_ms", "streaming.commit_ms",
    "streaming.jobs_per_batch", "streaming.backlog_max",
    "streaming.state_rows", "streaming.state_bytes",
    "streaming.state_commit_ms", "streaming.records_per_event",
    "changelog.update_us_per_record", "changelog.collapse_ms",
    "changelog.missed_retractions", "changelog.log_fill",
    "sources.gen_lag_ms_max", "sources.scan_bytes",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.task_cpu_s",
    "exec.gc_s", "exec.task_skew",
    "operators.build_s", "operators.relational_s", "operators.pipeline_s",
    "operators.dedup_s", "operators.similarity_s", "operators.text_s",
    "operators.multimodal_s", "operators.demo_s",
]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkJsonTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def test_top_level_keys(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds",
                                          "workloads", "end_to_end",
                                          "per_layer"})
        self.assertEqual(self.spec["command"][:2],
                         ["python3", "perfbench/run.py"])
        self.assertEqual(self.spec["paths"], ["perfbench"])
        self.assertTrue(1 <= self.spec["run_seconds"] <= 60)

    def test_workloads(self):
        names = [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(names, ["dashboard", "registry"])
        for w in self.spec["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)

    def test_every_metric_is_declared_with_a_unit(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        layer = {m["name"]: m for m in self.spec["per_layer"]}
        self.assertEqual(list(e2e), END_TO_END)
        self.assertEqual(list(layer), PER_LAYER)
        for m in list(e2e.values()) + list(layer.values()):
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))

    def test_end_to_end_bounds(self):
        for m in self.spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25, m["name"])
        setup = next(m for m in self.spec["end_to_end"]
                     if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"],
                         max(m["bound"] for m in self.spec["end_to_end"]))

    def test_per_layer_shape(self):
        for m in self.spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})


if __name__ == "__main__":
    unittest.main()
