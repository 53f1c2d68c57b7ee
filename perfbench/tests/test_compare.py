"""Tests for the result comparator (compare.py) over run records.

Run from the repository root:  python3 -m unittest discover perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import compare  # noqa: E402

METRICS = [{"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1}]


def record(seed, wall, rows, trace=0):
    return {"workload": "w", "seed": seed, "trace": trace,
            "end_to_end": {"wall_s": wall}, "rows": rows,
            "env": {"cpus": 4, "heap_gb": 7}}


def write(directory, name, rec):
    p = Path(directory) / "w"
    p.mkdir(parents=True, exist_ok=True)
    (p / name).write_text(json.dumps(rec))


class CompareTest(unittest.TestCase):
    def test_pairs_by_seed_and_skips_traced_runs(self):
        with tempfile.TemporaryDirectory() as d:
            write(d, "b.json", record(2, 20.0, {}))
            write(d, "a.json", record(1, 10.0, {}))
            write(d, "t.json", record(1, 99.0, {}, trace=1))
            runs = compare.load(Path(d))
        self.assertEqual([r["seed"] for r in runs["w"]], [1, 2])

    def test_faster_change_is_a_gain_with_row_ratios(self):
        with tempfile.TemporaryDirectory() as p, \
                tempfile.TemporaryDirectory() as c:
            for s in range(10):
                write(p, f"{s}.json", record(s, 10.0 + 0.01 * s,
                                             {"a": [1.0], "b": [2.0]}))
                write(c, f"{s}.json", record(s, 8.0 + 0.01 * s,
                                             {"a": [0.5], "b": [2.0]}))
            rep = compare.compare(compare.load(Path(p)),
                                  compare.load(Path(c)), METRICS)
        w = rep["w"]
        self.assertEqual(w["pairs"], 10)
        self.assertEqual(w["metrics"]["wall_s"]["verdict"], "gain")
        self.assertEqual(w["metrics"]["wall_s"]["pairs_won"], 1.0)
        self.assertEqual(w["rows"]["ratios"], {"a": 0.5, "b": 1.0})
        self.assertAlmostEqual(w["rows"]["geomean"], 0.5 ** 0.5)

    def test_slower_change_beyond_bound_is_a_regression(self):
        with tempfile.TemporaryDirectory() as p, \
                tempfile.TemporaryDirectory() as c:
            for s in range(5):
                write(p, f"{s}.json", record(s, 10.0, {"a": [1.0]}))
                write(c, f"{s}.json", record(s, 12.0, {"a": [1.2]}))
            rep = compare.compare(compare.load(Path(p)),
                                  compare.load(Path(c)), METRICS)
        v = rep["w"]["metrics"]["wall_s"]
        self.assertEqual(v["verdict"], "regression")
        self.assertFalse(v["within_bound"])


if __name__ == "__main__":
    unittest.main()
