#!/usr/bin/env python3
"""Machine-load canary for the bench ledger.

Both r17 and r18 ended with a load-window pass landing in
bench_full.json (external host contention inflating every cell 7-23x,
adjudicated after the fact). This gate stops that at the source: it
re-times the committed q1 canary cell and REFUSES the bench overwrite
when the machine is not quiet.

Usage: python3 tools/bench_canary.py [committed_bench_full.json] [factor] [sf_dir]

Runs `graft.Tool time <sf_dir> q1_pricing_summary 3`, takes the best
warm rep (reps 2-3 — rep 1 pays codegen), and compares against the
committed bench_full.json q1 cell. Exit 0 = quiet (canary <= factor x
committed, default 2x); exit 1 = loaded, do NOT overwrite the ledger.
"""
import json
import re
import subprocess
import sys


def main(committed="bench_full.json", factor=2.0,
         sf_dir="/root/testdata/sf0.1"):
    cell = json.load(open(committed))["queries"]["q1_pricing_summary"]
    cmd = ["sbt", "-batch",
           f"runMain graft.Tool time {sf_dir} q1_pricing_summary 3"]
    out = subprocess.run(cmd, capture_output=True, text=True).stdout
    reps = [float(m) for m in
            re.findall(r"\[debugtime\] q1_pricing_summary rep\d ([0-9.]+) s", out)]
    if len(reps) < 2:
        print(f"CANARY ERROR: could not parse `graft.Tool time` output:\n{out[-2000:]}")
        return 1
    warm = min(reps[1:])
    limit = cell * factor
    verdict = "QUIET" if warm <= limit else "LOADED"
    print(f"canary q1 warm {warm:.2f}s vs committed {cell:.2f}s "
          f"(limit {limit:.2f}s = {factor}x) -> {verdict}")
    if warm > limit:
        print("machine is in a load window — do NOT overwrite bench_full.json")
        return 1
    return 0


if __name__ == "__main__":
    committed = sys.argv[1] if len(sys.argv) > 1 else "bench_full.json"
    factor = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0
    sf = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    sys.exit(main(committed, factor, sf))
