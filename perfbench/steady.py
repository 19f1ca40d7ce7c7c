#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds, report each metric's
median, quartiles and spread ((q3 - q1) / median, quartiles as
``statistics.quantiles(values, n=4)`` gives them).

Usage (from the root of a checkout):

    python3 perfbench/steady.py --workloads geo_job,corpus_churn --seeds 1-10 \\
        [--seconds 20] [--trace 0] [--out steady.json]

Each run is ``perfbench/run.py`` as the benchmark command line gives it. A
run that prints no result is listed under ``failures`` and kept out of the
statistics; a run whose result reads ``correct: false`` is listed under
``incorrect`` with its failure count, and its metrics still count. With
bounds read from ``BENCHMARK.json``, a metric whose spread exceeds a third of
its bound is flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "min": min(values), "max": max(values), "n": len(values)}


def main():
    ap = argparse.ArgumentParser(description="perfbench steadiness over seeds")
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        values, failures, incorrect, walls, steal = {}, [], [], [], []
        for seed in a.seeds:
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(seconds), "--trace", str(a.trace)]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            if not res:
                failures.append({"seed": seed, "code": p.returncode,
                                 "stderr": p.stderr[-2000:]})
                continue
            if not res["correct"]:
                incorrect.append({"seed": seed, "attempted": res["attempted"],
                                  "failed": res["failed"]})
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            env = json.loads(lines[-2])["detail"]["env"] if len(lines) > 1 else {}
            steal.append(env.get("cpu_steal_frac"))
            print(f"[steady] {w} seed {seed}: {walls[-1]:.1f} s steal={steal[-1]} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr, flush=True)
        stats = {k: summary(v) for k, v in values.items()}
        for k, s in stats.items():
            b = bounds.get(k)
            if b is not None:
                s["bound"] = b
                s["steady"] = s["spread"] < b / 3
        report[w] = {"metrics": stats, "failures": failures, "incorrect": incorrect,
                     "run_wall_s": summary(walls) if walls else None, "cpu_steal_frac": steal}
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text)
    print(text)


if __name__ == "__main__":
    main()
