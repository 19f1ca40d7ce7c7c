#!/usr/bin/env python3
"""Flag adjudicator for the bench regress gate.

On a 360+-key pass, sub-2s cells show per-pass scheduling jitter that
can read as 1.5-2x "regressions" even on a quiet machine (r19: two
back-to-back quiet passes produced completely DISJOINT flag sets, and
min-of-two cleared the gate with zero flags). This tool automates the
documented adjudication: re-time every flagged key in isolation
(`graft.Tool time`, one JVM, 5 reps — codegen-heavy keys keep warming down
through rep 4, measured on ml_forecast_damped: 1.44/1.23/1.06/0.94/0.90)
and accept the pass if each flagged key's best warm rep (reps 2+) lands
within `factor` (default 1.35x) of its committed cell — i.e. the flag
does not reproduce outside jitter/JIT warm-up.

Usage: python3 tools/adjudicate.py <committed.json> <new.json> [factor] [sf_dir]
Exit 0 = every flag adjudicated as jitter; exit 1 = at least one
reproduces (a real regression — investigate before updating the ledger).
"""
import json
import re
import subprocess
import sys


def flagged(old, new, ratio=1.5, floor=0.3):
    out = []
    for q in sorted(set(old) & set(new)):
        o, n = old[q], new[q]
        if n >= floor and o > 0 and n / o >= ratio:
            out.append(q)
    return out


def main(committed, new_path, factor=1.35, sf_dir="/root/testdata/sf0.1"):
    old = json.load(open(committed))["queries"]
    new = json.load(open(new_path))["queries"]
    flags = flagged(old, new)
    if not flags:
        print("no flags to adjudicate")
        return 0
    # Load canary BEFORE re-timing (r19 lesson: an adjudication run
    # minutes after a 24-min `sbt test` produced two false REPRODUCES
    # that a quiet re-run cleared). Same gate as bench_gated.sh: the
    # q1 cell must read <=2x its committed value or the verdicts are
    # meaningless — refuse rather than mislabel jitter as REAL.
    import bench_canary
    if bench_canary.main(committed, 2.0, sf_dir) != 0:
        print("ADJUDICATION REFUSED: machine is in a load window — "
              "re-run tools/adjudicate.py once the q1 canary reads quiet")
        return 1
    print(f"adjudicating {len(flags)} flagged keys: {', '.join(flags)}")
    cmd = ["sbt", "-batch",
           f"runMain graft.Tool time {sf_dir} {','.join(flags)} 5"]
    outp = subprocess.run(cmd, capture_output=True, text=True).stdout
    bad = []
    for q in flags:
        reps = [float(m) for m in
                re.findall(rf"\[debugtime\] {re.escape(q)} rep\d ([0-9.]+) s", outp)]
        if len(reps) < 2:
            print(f"  {q}: `graft.Tool time` produced no reps — treating as REAL")
            bad.append(q)
            continue
        best = min(reps[1:])
        # Absolute floor (r20): `graft.Tool time`'s single-query JVM never
        # reaches the fully-warmed state of a 368-query bench pass —
        # its measured isolated floor is ~0.32 s (split_train_val:
        # committed 0.21 s from a full pass, isolated reps descend
        # 0.48 -> 0.32 s and plateau). A committed cell below ~0.35 s
        # is therefore structurally un-adjudicable against a ratio
        # limit alone; the 0.45 s floor admits the measurement-context
        # overhead without masking any real >=2x regression on cells
        # large enough to matter.
        limit = max(old[q] * factor, 0.45)
        verdict = "jitter" if best <= limit else "REPRODUCES"
        print(f"  {q}: committed {old[q]:.2f}s, pass {new[q]:.2f}s, "
              f"isolated best {best:.2f}s (limit {limit:.2f}s) -> {verdict}")
        if best > limit:
            bad.append(q)
    if bad:
        print(f"REAL regressions (reproduce in isolation): {', '.join(bad)}")
        return 1
    print("all flags adjudicated as per-pass jitter")
    return 0


if __name__ == "__main__":
    factor = float(sys.argv[3]) if len(sys.argv) > 3 else 1.35
    sf = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    sys.exit(main(sys.argv[1], sys.argv[2], factor, sf))
