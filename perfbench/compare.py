#!/usr/bin/env python3
"""Compare two sets of benchmark runs (a parent and a change).

    python3 perfbench/compare.py PARENT CHANGE [--json]

PARENT and CHANGE are directories holding the per-run records that
run.py writes to `.bench_build/results/<workload>/` (copy them aside
before switching commits). Only untraced records are compared.

For every (end-to-end metric, workload) it reports the medians and
quartiles of both sides, the share of run pairs the change won (runs
are paired by seed, then by time; ties count for neither), whether the
change's median stays within the metric's bound from BENCHMARK.json,
and a verdict from stats.compare_metric: gain, no change, regression,
or unresolved where the parent's own spread exceeds the bound. It also
reports each row's change/parent ratio of median latency and their
geomean, per workload.
"""
import argparse
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def load(directory: Path):
    """workload -> untraced records, ordered by seed then file name."""
    runs = {}
    for f in sorted(directory.rglob("*.json")):
        rec = json.loads(f.read_text())
        if rec.get("trace") == 0 and "end_to_end" in rec:
            runs.setdefault(rec["workload"], []).append((rec["seed"], f.name, rec))
    return {w: [r for _, _, r in sorted(v, key=lambda x: x[:2])]
            for w, v in runs.items()}


def compare(parent, change, metrics):
    report = {}
    for w in sorted(set(parent) & set(change)):
        p, c = parent[w], change[w]
        n = min(len(p), len(c))
        rows = {}
        for m in metrics:
            rows[m["name"]] = dict(
                stats.compare_metric([r["end_to_end"][m["name"]] for r in p[:n]],
                                     [r["end_to_end"][m["name"]] for r in c[:n]],
                                     m["better"], m["bound"]),
                unit=m["unit"])

        def latencies(side):
            out = {}
            for r in side:
                for row, xs in r["rows"].items():
                    out.setdefault(row, []).extend(xs)
            return {k: v for k, v in out.items() if v}

        report[w] = {"pairs": n, "metrics": rows,
                     "rows": stats.row_ratios(latencies(p), latencies(c)),
                     "env": {"parent": p[0]["env"], "change": c[0]["env"]}}
    return report


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--json", action="store_true")
    a = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    report = compare(load(a.parent), load(a.change), bench["end_to_end"])
    if not report:
        print("no workload has untraced runs on both sides", file=sys.stderr)
        return 2
    if a.json:
        print(json.dumps(report, indent=1))
        return 0
    for w, r in report.items():
        e = r["env"]
        print(f"== {w}: {r['pairs']} pairs; cpus {e['parent']['cpus']} -> "
              f"{e['change']['cpus']}, heap {e['parent']['heap_gb']}g -> "
              f"{e['change']['heap_gb']}g")
        for name, v in r["metrics"].items():
            p, c = v["parent"], v["change"]
            print(f"  {name:14s} {p['median']:10.4g} [{p['q1']:.4g}, {p['q3']:.4g}]"
                  f" -> {c['median']:10.4g} [{c['q1']:.4g}, {c['q3']:.4g}] {v['unit']:3s}"
                  f" worse {v['worse_share']:+.1%} (bound {v['bound']:.0%})"
                  f" won {v['pairs_won']:.0%}  {v['verdict']}")
        rr = r["rows"]
        if rr["geomean"] is not None:
            print(f"  rows: geomean change/parent latency {rr['geomean']:.3f}")
            for row, x in sorted(rr["ratios"].items(), key=lambda kv: -kv[1]):
                print(f"    {row:28s} {x:.3f}")
        if rr["missing"]:
            print(f"  rows on one side only: {', '.join(rr['missing'])}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
