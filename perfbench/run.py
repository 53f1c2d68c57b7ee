#!/usr/bin/env python3
"""graft benchmark: run one workload, check its outputs, print its metrics.

    python3 perfbench/run.py --workload sql_events --seed 42 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all   # every workload in turn

Run from the repository root. The first run compiles the engine and the
benchmark client into `.bench_build/` (see build.py); later runs reuse
the classes until a source changes.

A run prepares the seed's input tables (data.py), computes every
expected output in DuckDB before the engine starts (oracle.py), launches
the client JVM (scala/graft/perfbench/Main.scala) with a heap and a
`local[n]` width sized for this machine, compares each output to its
oracle and prints each metric with its unit. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json, from
untraced passes; with `--trace 1` they are the per-layer ones, from a
separate run whose passes alternate untraced and traced. The command
exits non-zero when a row fails or an output does not match its oracle.

Every run also leaves a full record (per-row latencies, tail
percentile and sample count, per-product prep times, cores, heap, load
average, CPU steal) in `.bench_build/results/<workload>/`; compare.py
diffs two sets of them.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import data  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
JVM_TIMEOUT_S = 170

# What the JDK 17 module system needs opened for Spark outside
# spark-submit; the same list as build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def heap_gb() -> int:
    """Half of physical memory, clamped to 2..8 GiB: the formula the
    repository's tier-1 test command uses for SPARK_DRIVER_MEM."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def oracle_sql(classes: Path) -> Path:
    """SparkEntry.oracleSql as JSON, dumped once per build."""
    out = BUILD / "oracle_sql.json"
    stamp = BUILD / "oracle_sql.stamp"
    key = (BUILD / "classes.stamp").read_text()
    if not (out.exists() and stamp.exists() and stamp.read_text() == key):
        subprocess.run(java_cmd(classes, 1, BUILD) +
                       ["--mode", "oracle-sql", "--out", str(out)],
                       check=True, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        stamp.write_text(key)
    return out


def java_cmd(classes: Path, heap: int, tmp: Path):
    """The client JVM. The heap is fixed (-Xms = -Xmx) and so is the
    young generation (a quarter of it): with G1 sizing both adaptively,
    peak RSS swung 20% between runs of the same code, with them 5%.
    -XX:-UsePerfData keeps the JVM from writing a perf-data file into
    the system temp directory; everything else goes under `tmp`."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData", f"-Xms{heap}g", f"-Xmx{heap}g",
             f"-Xmn{heap * 256}m", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}",
                       "graft.perfbench.Main"])


def cpu_steal() -> tuple:
    """(steal, total) jiffies so far, from the first line of /proc/stat:
    time this virtual machine was runnable but the host ran something else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def launch(classes, wl, data_dir, jvm_dir: Path, seconds, traced, n_cpus):
    """One client JVM with fresh tmp, artifact, scratch and local roots
    under `jvm_dir`; returns its result.json."""
    dirs = {k: jvm_dir / k for k in ("tmp", "artifacts", "scratch", "local", "out")}
    for d in dirs.values():
        d.mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_ARTIFACTS=str(dirs["artifacts"]))
    cmd = java_cmd(classes, heap_gb(), dirs["tmp"]) + [
        "--mode", "run", "--kind", wl["kind"], "--rows", ",".join(wl["rows"]),
        "--prep", ",".join(wl["prep"]), "--data", str(data_dir),
        "--out", str(dirs["out"]), "--seconds", str(seconds),
        "--trace", "1" if traced else "0", "--cpus", str(n_cpus),
        "--scratch", f"file://{dirs['scratch']}", "--local-dir", str(dirs["local"])]
    log = jvm_dir / "jvm.log"
    steal0 = cpu_steal()
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                env=env, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    steal1 = cpu_steal()
    res = dirs["out"] / "result.json"
    if rc != 0 or not res.exists():
        tail = log.read_text(errors="replace")[-3000:]
        raise RuntimeError(f"client JVM failed ({rc}):\n{tail}")
    out = json.loads(res.read_text())
    out["cpu_steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    return out


def part_files(out: Path) -> int:
    return sum(1 for p in out.rglob("part-*") if p.is_file())


def run_workload(name, seed, seconds, trace):
    spec = json.loads((HERE / "spec.json").read_text())
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    wl = spec["workloads"][name]
    classes = build.ensure()
    sql_file = oracle_sql(classes)
    data_dir = data.ensure(BUILD / "data", seed)
    sql_key = hashlib.sha256(sql_file.read_bytes()).hexdigest()[:12]
    orc = oracle.Oracle(ROOT, sql_file, BUILD / "oracle" / f"seed{seed}" / sql_key,
                        data_dir)
    keys = spec["oracle_keys"]
    checked = wl["rows"] + (["mr_wordcount"] if wl["kind"] == "cold" else [])
    for r in checked:
        orc.expected(keys.get(r, r))

    n_cpus = cpus()
    run_dir = BUILD / "runs" / f"{name}-s{seed}-t{int(trace)}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    jvms, check_fail, out_rows, sink_files = [], {}, [], []
    t0 = time.monotonic()
    try:
        while True:
            # a warm run is one JVM; a cold run is one pass per fresh JVM
            # (traced runs alternate untraced and traced JVMs)
            traced = trace if wl["kind"] == "warm" else trace and len(jvms) % 2 == 1
            jvm_dir = run_dir / f"jvm{len(jvms)}"
            res = launch(classes, wl, data_dir, jvm_dir, seconds, traced, n_cpus)
            jvms.append(res)
            rows_out = 0
            for c in res["checks"]:
                try:
                    got = oracle.read_output(c["path"], c["format"])
                    why = orc.check(keys.get(c["row"], c["row"]), got)
                    rows_out += len(got)
                except Exception as e:  # a missing or unreadable output
                    why = f"output: {e}"
                if why:
                    check_fail[(len(jvms) - 1, c["row"])] = why
            out_rows.append(rows_out)
            sink_files.append(part_files(jvm_dir / "out" / "pass0"))
            # the cold-state guard: every JVM starts from empty roots
            shutil.rmtree(jvm_dir)
            done = wl["kind"] == "warm" or time.monotonic() - t0 >= seconds
            if done and (not trace or wl["kind"] == "warm" or len(jvms) >= 2):
                break
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    return summarize(name, seed, trace, wl, bench, jvms, check_fail,
                     out_rows, sink_files, n_cpus)


def summarize(name, seed, trace, wl, bench, jvms, check_fail, out_rows,
              sink_files, n_cpus):
    passes = [(j, p) for j, res in enumerate(jvms) for p in res["passes"]]
    plain = [p for _, p in passes if not p["traced"]]
    traced = [p for _, p in passes if p["traced"]]

    # fail_frac: timed row-runs that threw or whose output missed its
    # oracle (a warm row's outputs are checked once, in setup, and a
    # mismatch there fails every timed run of that row)
    attempted = failed = 0
    errors = {}
    for j, p in passes:
        for r in p["rows"]:
            attempted += 1
            bad = r.get("error") or check_fail.get((j, r["name"]))
            if bad:
                failed += 1
                errors.setdefault(r["name"], bad)
    for (j, row), why in check_fail.items():
        errors.setdefault(row, why)
    invalid = [m for res in jvms for m in res["trace_invalid"]]
    # the cold-state guard: a cold pass that found a warm artifact would
    # build fewer than the pinned number, and must not pass as cold
    built = [p["layers"]["artifacts.dirs_built"] for _, p in passes]
    want = wl.get("artifacts_dirs_built")
    if want is not None and any(b != want for b in built):
        errors["artifacts"] = f"artifacts.dirs_built {built}, expected {want}"
        failed += 1

    # one latency sample per query row: its median over the run's
    # passes, so the sample count (and so the tail percentile) does not
    # change with how many passes fit in --seconds
    by_row = {}
    for p in plain:
        for r in p["rows"]:
            if not r.get("error"):
                by_row.setdefault((r["kind"], r["name"]), []).append(r["seconds"])
    lat = [stats.median(v) for (kind, _), v in by_row.items() if kind == "query"]
    if not plain or not lat:
        raise RuntimeError(f"{name}: no query row completed: {errors}")
    tail_pct, tail_v, tail_n = stats.tail(lat)
    e2e = {
        "wall_s": stats.median([p["wall_s"] for p in plain]),
        "query_p50_s": stats.median(lat),
        "query_tail_s": tail_v,
        "setup_s": stats.median([res["setup_s"] for res in jvms]),
        "rss_peak_mb": stats.median([res["rss_peak_mb"] for res in jvms]),
    }
    layers = {}
    if traced:
        keys = sorted({k for p in traced for k in p["layers"]})
        raw = {k: stats.median([p["layers"].get(k, 0.0) for p in traced])
               for k in keys}
        wall = stats.median([p["wall_s"] for p in traced])
        tj = [j for j, res in enumerate(jvms) if any(p["traced"] for p in res["passes"])]
        setup_prep = stats.median([sum(jvms[j]["setup_prep"].values()) /
                                   jvms[j]["setup_s"] for j in tj])
        layers = dict(raw)
        layers.update({
            "sink.write_frac": raw["sink.write_s"] / wall,
            "sink.files": stats.median([sink_files[j] for j in tj]),
            "api.mr_step_frac": raw["api.mr_step_s"] / wall,
            "api.protocol_roundtrip_frac": raw["api.protocol_roundtrip_s"] / wall,
            "prep.wall_frac": raw["prep.s"] / wall,
            "prep.setup_frac": setup_prep,
            "sources.rows_per_output_row":
                raw["sources.scan_rows"] / max(1, stats.median([out_rows[j] for j in tj])),
            "trace.overhead_frac": wall / stats.median([p["wall_s"] for p in plain]) - 1,
        })

    record = {
        "workload": name, "seed": seed, "trace": int(trace),
        "correct": failed == 0 and not (trace and invalid),
        "attempted": attempted, "failed": failed,
        "fail_frac": failed / attempted if attempted else 1.0,
        "errors": errors, "trace_invalid": invalid,
        "end_to_end": e2e, "per_layer": layers,
        "tail": {"percentile": tail_pct, "n": tail_n,
                 "note": "maximum: too few samples for a percentile"
                 if tail_pct == 100 else ""},
        "pass_wall_s": [p["wall_s"] for p in plain],
        "artifacts_dirs_built": built,
        "traced_pass_wall_s": [p["wall_s"] for p in traced], "jvms": len(jvms),
        "rows": {name: v for (_, name), v in by_row.items()},
        "setup": [{"setup_s": res["setup_s"], "session_s": res["session_s"],
                   "prep": res["setup_prep"]} for res in jvms],
        "env": {"cpus": n_cpus, "heap_gb": heap_gb(),
                "load_avg": [res["load_avg"] for res in jvms],
                "cpu_steal_frac": [res["cpu_steal_frac"] for res in jvms],
                "heap_max_mb": jvms[0]["heap_max_mb"]},
    }
    out = BUILD / "results" / name
    out.mkdir(parents=True, exist_ok=True)
    (out / f"seed{seed}-trace{int(trace)}-{time.time_ns()}.json").write_text(
        json.dumps(record, indent=1))

    spec_metrics = bench["per_layer" if trace else "end_to_end"]
    values = layers if trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec_metrics}
    return record, metrics


def report(record, metrics):
    w = record["workload"]
    for k, m in metrics.items():
        print(f"{w:16s} {k:32s} {m['value']:14.6g} {m['unit']}")
    t = record["tail"]
    print(f"{w:16s} query_tail_s is p{t['percentile']} of {t['n']} per-row median latencies"
          + (f" ({t['note']})" if t["note"] else ""))
    print(f"{w:16s} fail_frac {record['fail_frac']:.4g} "
          f"({record['failed']} of {record['attempted']} row-runs)")
    for row, why in record["errors"].items():
        print(f"{w:16s} FAIL {row}: {why}")
    for m in record["trace_invalid"]:
        print(f"{w:16s} TRACE INVALID: {m}")


def main():
    # a terminated run still stops its JVM: subprocess.run kills the
    # child on any exception, SystemExit included
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=data.BASE_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "BENCHMARK.json").is_file() or not build.ENGINE_SRC.is_dir():
        print("perfbench: run from the root of a full checkout "
              "(BENCHMARK.json and src/main/scala are needed)", file=sys.stderr)
        return 2
    spec = json.loads((HERE / "spec.json").read_text())
    names = list(spec["workloads"]) if a.workload == "all" else [a.workload]
    if any(n not in spec["workloads"] for n in names):
        print(f"perfbench: unknown workload {a.workload}", file=sys.stderr)
        return 2
    results = []
    try:
        for n in names:
            record, metrics = run_workload(n, a.seed, a.seconds, bool(a.trace))
            report(record, metrics)
            results.append((record, metrics))
    except (FileNotFoundError, RuntimeError, subprocess.SubprocessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    correct = all(r["correct"] for r, _ in results)
    attempted = sum(r["attempted"] for r, _ in results)
    failed = sum(r["failed"] for r, _ in results)
    metrics = results[0][1] if len(results) == 1 else {
        f"{r['workload']}.{k}": v for r, m in results for k, v in m.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
