#!/usr/bin/env python3
"""Measure how steady the benchmark is, and record it.

Run from the repository root:

    python3 perfbench/steadiness.py --runs 10 [--first-seed 1] [--out FILE]

Runs each workload of BENCHMARK.json --runs times, each with its own
seed, with tracing off, then once traced with the first seed. For every
end-to-end metric it reports the median and the spread: the distance
between the first and third quartile of the runs' values
(statistics.quantiles, n=4) as a share of their median.
The record, with the environment of the runs, is written to
perfbench/STEADINESS.json next to the bounds it is judged against: a
metric is steady when its spread is below a third of its bound.
"""
import argparse
import json
import os
import pathlib
import statistics
import subprocess
import sys
import time

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent


def loadavg():
    try:
        return " ".join(pathlib.Path("/proc/loadavg").read_text().split()[:3])
    except OSError:
        return ""


def one_run(spec, workload, seed, trace=0):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    env = {}
    for line in r.stderr.splitlines():
        if line.startswith('{"workload"'):
            env = json.loads(line)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"seed": seed, "exit": r.returncode, "wall_s": round(wall, 1), "result": result, "env": env}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=str(BENCH / "STEADINESS.json"))
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    record = {"runs_per_workload": a.runs, "run_seconds": spec["run_seconds"],
              "nproc": os.cpu_count(), "loadavg_start": loadavg(), "workloads": {}}
    for w in workloads:
        runs = [one_run(spec, w, a.first_seed + i) for i in range(a.runs)]
        ok = [r for r in runs if r["exit"] == 0 and r["result"] and r["result"]["correct"]]
        metrics = {}
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in ok]
            if len(vals) >= 2:
                s = spread(vals)
                metrics[m["name"]] = {
                    "median": statistics.median(vals), "unit": m["unit"], "spread": round(s, 4),
                    "bound": m["bound"], "steady": s < m["bound"] / 3,
                    "values": vals}
        env = ok[0]["env"] if ok else {}
        # tracing overhead: the traced step median against the untraced
        # one of the same seed
        traced = one_run(spec, w, a.first_seed, trace=1)
        overhead = None
        if traced["exit"] == 0 and ok and ok[0]["seed"] == a.first_seed:
            t = traced["result"]["metrics"]["trace.op_p50_s"]["value"]
            u = ok[0]["result"]["metrics"]["op_p50_s"]["value"]
            overhead = {"traced_op_p50_s": t, "untraced_op_p50_s": u, "share": round(t / u - 1, 4)}
        record["workloads"][w] = {
            "tracing_overhead": overhead,
            "seeds": [r["seed"] for r in runs], "failed_runs": len(runs) - len(ok),
            "wall_s": [r["wall_s"] for r in runs],
            "samples": [r["env"].get("samples") for r in runs],
            "loadavg": [[r["env"].get("loadavg_start"), r["env"].get("loadavg_end")] for r in runs],
            "java": env.get("java"), "spark": env.get("spark"), "scala": env.get("scala"),
            "metrics": metrics}
        print(json.dumps({w: {k: (v["spread"], v["steady"]) for k, v in metrics.items()}}), file=sys.stderr)
    record["loadavg_end"] = loadavg()
    pathlib.Path(a.out).write_text(json.dumps(record, indent=1) + "\n")
    print(a.out)


if __name__ == "__main__":
    main()
