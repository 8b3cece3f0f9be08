#!/usr/bin/env python3
"""Self-test of tools/pairs_summary.py on a small synthetic pair file.

Run from the repo root (stdlib only, well under a second):

    python3 tools/test_pairs_summary.py
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import pairs_summary  # noqa: E402

BETTER = {"sweep_s": "lower", "peak_rss_mb": "lower"}


def run(side, seed, sweep, rss, warmup=False, exit_code=0, correct=True,
        workload="w1"):
    return {"side": side, "workload": workload, "seed": seed, "trace": 0,
            "warmup": warmup, "wall_s": 1.0, "exit": exit_code,
            "result": {"correct": correct, "attempted": 3, "failed": 0,
                       "metrics": {"sweep_s": {"value": sweep, "unit": "s"},
                                   "peak_rss_mb": {"value": rss,
                                                   "unit": "MB"}}}}


RUNS = [
    # warm-ups far off the timed values: skipped
    run("parent", 900, 100.0, 1.0, warmup=True),
    run("change", 900, 100.0, 1.0, warmup=True),
    run("parent", 1, 10.0, 6000.0), run("change", 1, 9.0, 3000.0),
    run("parent", 2, 12.0, 6100.0), run("change", 2, 13.0, 3100.0),
    run("parent", 3, 11.0, 6200.0), run("change", 3, 10.0, 3200.0),
    run("parent", 4, 13.0, 6300.0), run("change", 4, 12.0, 3300.0),
    # a failed change run: dropped, and its seed pairs with nothing
    run("parent", 5, 14.0, 6400.0), run("change", 5, 1.0, 1.0, exit_code=1),
    run("parent2", 4, 13.0, 6300.0), run("parent2", 5, 14.0, 6400.0),
    # a second workload that only one side ran: not reported
    run("parent", 1, 5.0, 5.0, workload="w2"),
]


def rows(a, b):
    return {r["metric"]: r
            for r in pairs_summary.summarise(RUNS, a, b, BETTER)}


class PairsSummaryTest(unittest.TestCase):
    def test_medians_skip_warmups_and_failed_runs(self):
        r = rows("parent", "change")
        self.assertEqual(r["sweep_s"]["median_a"], 12.0)
        self.assertEqual(r["sweep_s"]["median_b"], 11.0)
        self.assertEqual((r["sweep_s"]["n_a"], r["sweep_s"]["n_b"]), (5, 4))
        self.assertEqual(r["sweep_s"]["dropped_b"], 1)

    def test_spread_is_inclusive_quartiles_over_median(self):
        # parent sweep 10..14: Q1 11, Q3 13, median 12
        r = rows("parent", "change")
        self.assertAlmostEqual(r["sweep_s"]["spread_a"], 2.0 / 12.0)

    def test_pairs_by_seed(self):
        r = rows("parent", "change")
        self.assertEqual((r["sweep_s"]["won"], r["sweep_s"]["pairs"]), (3, 4))
        self.assertEqual((r["peak_rss_mb"]["won"], r["peak_rss_mb"]["pairs"]),
                         (4, 4))
        self.assertEqual({x["workload"] for x in pairs_summary.summarise(
            RUNS, "parent", "change", BETTER)}, {"w1"})

    def test_any_two_sides_pair_and_ties_win_nothing(self):
        r = rows("parent", "parent2")
        self.assertEqual((r["sweep_s"]["won"], r["sweep_s"]["pairs"]), (0, 2))
        self.assertEqual(r["sweep_s"]["median_b"], 13.5)

    def test_higher_is_better_flips_the_pairs_won(self):
        r = {x["metric"]: x for x in pairs_summary.summarise(
            RUNS, "parent", "change", {"peak_rss_mb": "higher"})}
        self.assertEqual(list(r), ["peak_rss_mb"])
        self.assertEqual(r["peak_rss_mb"]["won"], 0)

    def test_main_prints_one_line_per_workload_and_metric(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "x_pairs.jsonl")
            with open(path, "w") as f:
                f.write(json.dumps({"what": "t", "nproc": 4,
                                    "command": "c"}) + "\n")
                f.writelines(json.dumps(x) + "\n" for x in RUNS)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                code = pairs_summary.main([path])
            self.assertEqual(code, 0)
            lines = out.getvalue().splitlines()
            self.assertTrue(lines[0].startswith("# "))
            self.assertIn("w1 sweep_s: 12.00 -> 11.00 (-8.3 %, spread 16.7 %)"
                          ", change won 3/4 pairs [runs 5/4, dropped "
                          "0/1]", lines)
            # BENCHMARK.json's four end-to-end metrics; the runs hold two
            self.assertEqual(len(lines), 1 + 2)

    def test_header_is_required(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "x_pairs.jsonl")
            with open(path, "w") as f:
                f.write(json.dumps(RUNS[2]) + "\n")
            with self.assertRaises(ValueError):
                pairs_summary.load(path)


if __name__ == "__main__":
    unittest.main()
