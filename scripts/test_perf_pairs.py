"""Unit tests of perf_pairs' summary, on synthetic numbers.

Run from the repository root: python3 -m unittest scripts/test_perf_pairs.py
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perf_pairs  # noqa: E402

SPEC = {
    "freshness_p50_ms": {"better": "lower", "bound": 0.25},
    "drain_eps": {"better": "higher", "bound": 0.25},
}


def run(metrics, code=0, correct=True, failed=0):
    """A run as `run_once` returns it: (exit code, result JSON)."""
    return code, {"correct": correct, "failed": failed,
                  "metrics": {k: {"value": v} for k, v in metrics.items()}}


def pairs(parent, change, name="freshness_p50_ms"):
    return [(run({name: p}), run({name: c})) for p, c in zip(parent, change)]


class SeedsTest(unittest.TestCase):
    def test_ranges_and_lists(self):
        self.assertEqual(perf_pairs.parse_seeds("71-74"), [71, 72, 73, 74])
        self.assertEqual(perf_pairs.parse_seeds("1,3,5"), [1, 3, 5])
        self.assertEqual(perf_pairs.parse_seeds("1-2,9"), [1, 2, 9])


class SummaryTest(unittest.TestCase):
    def one(self, ps, spec=SPEC):
        rows = perf_pairs.summarize(ps, spec)
        self.assertEqual(len(rows), 1)
        return rows[0]

    def test_quartiles_inclusive(self):
        self.assertEqual(perf_pairs.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]),
                         (2.0, 3.0, 4.0))
        self.assertEqual(perf_pairs.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_clear_gain_lower_is_better(self):
        parent = [160.0, 162, 158, 165, 161, 163, 159, 164, 160, 162]
        change = [p - 25 for p in parent]
        r = self.one(pairs(parent, change))
        self.assertEqual(r["wins"], 10)
        self.assertEqual(r["pairs"], 10)
        self.assertTrue(r["gain"])
        self.assertEqual(r["bound"], "ok")
        self.assertAlmostEqual(r["parent"]["median"], 161.5)
        self.assertAlmostEqual(r["change"]["median"], 136.5)
        self.assertAlmostEqual(r["ratio"], 136.5 / 161.5)

    def test_eight_wins_of_ten_is_no_gain(self):
        parent = [160.0] * 10
        change = [120.0] * 8 + [170.0, 170.0]
        r = self.one(pairs(parent, change))
        self.assertEqual(r["wins"], 8)
        self.assertFalse(r["gain"])

    def test_nine_wins_but_inside_parent_spread_is_no_gain(self):
        parent = [100.0, 140, 110, 150, 120, 160, 130, 170, 125, 135]
        change = [p - 2 for p in parent[:9]] + [parent[9] + 2]
        r = self.one(pairs(parent, change))
        self.assertEqual(r["wins"], 9)
        self.assertGreater(r["parent_iqr"], 2)
        self.assertFalse(r["gain"])

    def test_ties_count_for_neither_side(self):
        r = self.one(pairs([5.0, 5.0, 5.0], [5.0, 5.0, 4.0]))
        self.assertEqual(r["wins"], 1)

    def test_higher_is_better_and_bound(self):
        parent = [1000.0] * 5
        r = self.one(pairs(parent, [1200.0] * 5, "drain_eps"))
        self.assertEqual(r["wins"], 5)
        self.assertTrue(r["gain"])
        r = self.one(pairs(parent, [760.0] * 5, "drain_eps"))
        self.assertEqual(r["bound"], "ok")  # 24 % worse, bound 25 %
        r = self.one(pairs(parent, [740.0] * 5, "drain_eps"))
        self.assertEqual(r["bound"], "WORSE")  # 26 % worse

    def test_lower_is_better_bound(self):
        self.assertEqual(self.one(pairs([100.0] * 3, [124.0] * 3))["bound"], "ok")
        self.assertEqual(self.one(pairs([100.0] * 3, [126.0] * 3))["bound"], "WORSE")

    def test_failed_change_run_counts_as_a_lost_pair(self):
        parent = [160.0] * 10
        change = [120.0] * 10
        ps = pairs(parent, change)
        ps[9] = (ps[9][0], run({"freshness_p50_ms": 120.0}, code=1))
        r = self.one(ps)
        self.assertEqual(r["pairs"], 10)
        self.assertEqual(r["complete"], 9)
        self.assertEqual(r["wins"], 9)
        self.assertEqual(r["failed_more"], 1)
        self.assertFalse(r["gain"])  # 9 of 10 won, but a change run failed

    def test_change_with_more_failed_operations_is_no_gain(self):
        ps = pairs([160.0] * 10, [120.0] * 10)
        ps[0] = (ps[0][0], run({"freshness_p50_ms": 120.0}, failed=1))
        r = self.one(ps)
        self.assertEqual(r["failed_more"], 1)
        self.assertFalse(r["gain"])

    def test_failed_parent_run_is_not_a_win_either(self):
        ps = pairs([160.0] * 10, [120.0] * 10)
        ps[0] = (run({"freshness_p50_ms": 160.0}, correct=False), ps[0][1])
        ps[1] = (run({"freshness_p50_ms": 160.0}, code=1), ps[1][1])
        r = self.one(ps)
        self.assertEqual(r["wins"], 8)
        self.assertEqual(r["failed_more"], 0)
        self.assertFalse(r["gain"])

    def test_bound_unresolved_when_parent_spreads_wider_than_bound(self):
        parent = [60.0, 140.0, 80.0, 120.0, 100.0]  # IQR 40 of median 100
        r = self.one(pairs(parent, [p + 1 for p in parent]))
        self.assertEqual(r["bound"], "unresolved")
        r = self.one(pairs(parent, [p - 1 for p in parent]))
        self.assertEqual(r["bound"], "unresolved")  # wins, but overlaps

    def test_wide_parent_spread_resolves_when_every_change_run_is_better(self):
        parent = [60.0, 140.0, 80.0, 120.0, 100.0]
        r = self.one(pairs(parent, [50.0, 55.0, 40.0, 45.0, 59.0]))
        self.assertEqual(r["bound"], "ok")

    def test_metrics_missing_on_either_side_are_skipped(self):
        ps = [(run({"freshness_p50_ms": 1.0}), run({"drain_eps": 2.0}))]
        self.assertEqual(perf_pairs.summarize(ps, SPEC), [])

    def test_report_lists_every_metric(self):
        ps = [(run({"freshness_p50_ms": 10.0, "drain_eps": 5.0}),
               run({"freshness_p50_ms": 8.0, "drain_eps": 6.0}))]
        text = perf_pairs.report(perf_pairs.summarize(ps, SPEC))
        self.assertIn("freshness_p50_ms", text)
        self.assertIn("drain_eps", text)
        self.assertIn("1/1", text)


class PerLayerTest(unittest.TestCase):
    LAYER = {"exec.tasks": {"better": "lower"},
             "api.poll_hit_ratio": {"better": "higher"}}

    def test_per_layer_rows_have_statistics_but_no_verdicts(self):
        ps = [(run({"exec.tasks": p, "api.poll_hit_ratio": 1.0}),
               run({"exec.tasks": c, "api.poll_hit_ratio": 2.0}))
              for p, c in zip([286.0, 290, 280, 284, 288],
                              [130.0, 131, 129, 130, 132])]
        rows = {r["metric"]: r for r in
                perf_pairs.summarize(ps, self.LAYER, verdicts=False)}
        tasks = rows["exec.tasks"]
        self.assertEqual(tasks["wins"], 5)
        self.assertAlmostEqual(tasks["parent"]["median"], 286.0)
        self.assertAlmostEqual(tasks["change"]["median"], 130.0)
        self.assertAlmostEqual(tasks["ratio"], 130.0 / 286.0)
        self.assertAlmostEqual(tasks["parent_iqr"], 4.0)
        self.assertEqual(rows["api.poll_hit_ratio"]["wins"], 5)  # higher wins
        for r in rows.values():
            self.assertIsNone(r["gain"])
            self.assertIsNone(r["bound"])

    def test_report_prints_dashes_for_missing_verdicts(self):
        ps = [(run({"exec.tasks": 286.0}), run({"exec.tasks": 130.0}))]
        text = perf_pairs.report(
            perf_pairs.summarize(ps, self.LAYER, verdicts=False))
        row = [ln for ln in text.splitlines() if ln.startswith("exec.tasks")]
        self.assertEqual(row[0].split()[-2:], ["-", "-"])
        self.assertNotIn("yes", text)

    def test_run_once_passes_the_trace_flag_to_the_command(self):
        echo = [sys.executable, "-c",
                "import json, sys; print(json.dumps({'argv': sys.argv[1:]}))"]
        for trace in (0, 1):
            code, result = perf_pairs.run_once(".", echo, "dashboard", 7, 10,
                                               trace)
            self.assertEqual(code, 0)
            self.assertEqual(result["argv"],
                             ["--workload", "dashboard", "--seed", "7",
                              "--seconds", "10", "--trace", str(trace)])


def doc(seeds, workload="dashboard", trace=0, parent=160.0, change=120.0):
    """A `--json` output whose every seed ran both sides."""
    runs = []
    for seed in seeds:
        for side, value in (("parent", parent), ("change", change)):
            code, result = run({"freshness_p50_ms": value})
            runs.append({"seed": seed, "side": side, "first": "parent",
                         "exit": code, "result": result})
    return {"workload": workload, "trace": trace, "runs": runs, "summary": []}


class MergeTest(unittest.TestCase):
    def test_files_merge_into_one_set_of_pairs(self):
        workload, trace, runs, ps = perf_pairs.merge(
            [doc(range(41, 49)), doc([90, 91], change=150.0)])
        self.assertEqual((workload, trace), ("dashboard", 0))
        self.assertEqual(len(runs), 20)
        self.assertEqual(len(ps), 10)
        r = perf_pairs.summarize(ps, SPEC)[0]
        self.assertEqual(r["pairs"], 10)
        self.assertEqual(r["wins"], 10)
        self.assertTrue(r["gain"])

    def test_merged_verdicts_equal_one_run_of_the_same_pairs(self):
        one = doc(range(1, 11), change=155.0)
        _, _, _, merged = perf_pairs.merge(
            [doc(range(1, 6), change=155.0), doc(range(6, 11), change=155.0)])
        _, _, _, single = perf_pairs.merge([one])
        self.assertEqual(perf_pairs.summarize(merged, SPEC),
                         perf_pairs.summarize(single, SPEC))

    def test_refuses_mixed_workloads_or_trace_modes(self):
        with self.assertRaisesRegex(ValueError, "workload"):
            perf_pairs.merge([doc([1]), doc([2], workload="registry")])
        with self.assertRaisesRegex(ValueError, "trace"):
            perf_pairs.merge([doc([1]), doc([2], trace=1)])

    def test_refuses_a_repeated_seed(self):
        with self.assertRaisesRegex(ValueError, "seed 3 appears twice"):
            perf_pairs.merge([doc([1, 3]), doc([3, 4])])
        with self.assertRaisesRegex(ValueError, "seed 5 appears twice"):
            perf_pairs.merge([doc([5, 5])])

    def test_refuses_a_seed_without_both_sides(self):
        d = doc([1, 2])
        d["runs"] = d["runs"][:-1]
        with self.assertRaisesRegex(ValueError, "seed 2 lacks"):
            perf_pairs.merge([d])

    def test_command_line_merge_writes_the_summary(self):
        import json
        import subprocess
        import tempfile
        script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "perf_pairs.py")
        with tempfile.TemporaryDirectory() as tmp:
            paths = []
            for i, d in enumerate([doc([1, 2]), doc([3])]):
                paths.append(os.path.join(tmp, f"{i}.json"))
                with open(paths[-1], "w") as fh:
                    json.dump(d, fh)
            out = os.path.join(tmp, "merged.json")
            proc = subprocess.run(
                [sys.executable, script, "--merge", *paths, "--json", out],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            self.assertEqual(proc.returncode, 0, proc.stderr)
            self.assertIn("3 pairs run, 0 runs failed", proc.stdout)
            with open(out) as fh:
                merged = json.load(fh)
            row = [r for r in merged["summary"]
                   if r["metric"] == "freshness_p50_ms"][0]
            self.assertEqual((row["pairs"], row["wins"]), (3, 3))
            self.assertEqual(len(merged["runs"]), 6)
            bad = subprocess.run(
                [sys.executable, script, "--merge", paths[0], paths[0]],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            self.assertEqual(bad.returncode, 2)
            self.assertIn("appears twice", bad.stderr)


class OkTest(unittest.TestCase):
    def test_a_run_counts_only_when_correct_and_nothing_failed(self):
        good = {"correct": True, "failed": 0}
        self.assertTrue(perf_pairs.ok(0, good))
        self.assertFalse(perf_pairs.ok(1, good))
        self.assertFalse(perf_pairs.ok(0, None))
        self.assertFalse(perf_pairs.ok(0, {"correct": False, "failed": 0}))
        self.assertFalse(perf_pairs.ok(0, {"correct": True, "failed": 2}))

    def test_failures_rank_a_broken_run_above_any_count(self):
        self.assertEqual(perf_pairs.failures(0, {"correct": True, "failed": 0}), 0)
        self.assertEqual(perf_pairs.failures(0, {"correct": True, "failed": 3}), 3)
        self.assertGreater(perf_pairs.failures(1, {"correct": True, "failed": 0}),
                           10 ** 9)
        self.assertGreater(perf_pairs.failures(0, None), 10 ** 9)


if __name__ == "__main__":
    unittest.main()
