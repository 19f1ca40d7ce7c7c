#!/usr/bin/env python3
"""graft's benchmark: one seeded workload, measured end to end and per layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload geo_job --seed 1 --seconds 30 --trace 0

Steps:

1. Build the engine and the harness from source with sbt (the harness
   build in ``perfbench/`` depends on the root project). The classpath is
   cached under ``.bench_build/perfbench`` and reused while no source file
   changes.
2. Generate the workload's inputs from ``--seed`` (``gen.py``), cached per
   seed under ``.bench_build/perfbench/data``.
3. Run the harness (``graft.perfbench.Main``) as a plain JVM on
   ``local[nproc]``: set-ups, a cold pass, warm passes for ``--seconds``,
   a full GC, and a dump of every op's result.
4. Check every result against the DuckDB oracle (``oracle.py``), untimed.
5. Print one detail line (every metric with unit, direction and sample
   count, ``fail_frac``, every error, plus environment), then the result line:
   ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
   the end-to-end metrics, ``--trace 1`` the per-layer ones.

An op that throws or fails the oracle stays in its workload: it counts in
``failed`` and makes ``correct`` false.

``--smoke`` uses tiny inputs, one set-up and a single pass; it is for the
benchmark's own test (``test_run.py``). Metric definitions live in
``metrics.py``; the workloads are defined below.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = {
    "geo_job": {
        "tables": ["events"],
        "ops": ["map_fanout", "pipeline_frame_build", "pipeline_job_build",
                "reduce_assemble", "pipeline_frame_incremental",
                "pipeline_job_incremental", "geo_frame_churn"],
    },
    "corpus_churn": {
        "tables": ["documents"],
        "ops": ["pipeline_pretrain_build", "dedup_minhash_lsh", "dedup_span_exact",
                "graph_components_incremental", "tokenize_fertility"],
        "churn": True,
    },
}

# JVM flags the engine's own build passes to forked runs (Spark on JDK 17
# outside spark-submit needs the module opens).
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
SETUPS = 7  # set-ups per run; setup_s is their median
MIN_WARM = 1  # warm passes run whatever --seconds says
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 800
FORBIDDEN_ENV = ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_ONLY")


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_bounded(cmd, log_path, timeout, **kw):
    """Run ``cmd`` in its own process group with output to ``log_path``;
    the whole group is killed on timeout. Returns the exit code."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build(stamp):
    """Compile engine + harness with sbt; return the runtime classpath."""
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    cp_file = os.path.join(bdir, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(bdir, "sbt.log")
    log("building engine and harness with sbt")
    t0 = time.time()
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       log_path, BUILD_TIMEOUT_S, cwd=HERE, env=env)
    if code != 0:
        sys.stderr.write(tail(log_path))
        fail(f"sbt build failed (exit {code})")
    lines = [ln.strip() for ln in open(log_path) if os.pathsep in ln or ln.strip().endswith(".jar")]
    if not lines:
        fail("sbt printed no classpath")
    classpath = lines[-1].split(os.pathsep)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log(f"build done in {time.time() - t0:.1f} s")
    return classpath


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (None where it is not readable)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one pass")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check.py"))):
        fail(f"{ROOT} is not a graft checkout (build.sbt, src/ and tools/check.py needed)")
    bad = [k for k in FORBIDDEN_ENV if os.environ.get(k)]
    bad += [k for k in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS")
            if "spark.graft.checkpointDir" in os.environ.get(k, "")]
    if bad:
        fail(f"refusing to run with {', '.join(bad)} set: results would not be comparable")

    t_start = time.time()
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[a.workload]
    smoke = a.smoke
    # A traced run adds a traced-untraced pair after the first warm pass,
    # so warm-up drift cancels in the tracing overhead.
    setups, min_warm = (1, 0) if smoke else (SETUPS, MIN_WARM + 2 * a.trace)

    stamp = source_hash()
    classpath = build(stamp)

    tag = f"{a.workload}-s{a.seed}" + ("-smoke" if smoke else "")
    cache = os.path.join(WORK, "data", tag)
    manifest = gen.generate(a.workload, a.seed, cache, smoke=smoke)
    run_dir = os.path.join(WORK, "runs", f"{tag}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    data_dir = os.path.join(cache, "data")
    if wl.get("churn"):  # the run rewrites part files: work on a copy
        data_dir = os.path.join(run_dir, "data")
        shutil.copytree(os.path.join(cache, "data"), data_dir)
    check_dir = os.path.join(run_dir, "check")
    out_path = os.path.join(run_dir, "out.json")

    java = shutil.which("java") or fail("java not found on PATH")
    jvm = [java, f"-Xmx{HEAP}"]
    for m in JVM_OPENS:
        jvm += ["--add-opens", f"{m}=ALL-UNNAMED"]
    tmp = os.path.join(run_dir, "tmp")
    jvm += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dderby.system.home={run_dir}",
            "-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
            "--workload", a.workload, "--data", data_dir, "--ops", ",".join(wl["ops"]),
            "--tables", ",".join(wl["tables"]), "--cores", str(cores),
            "--seconds", str(0 if smoke else a.seconds), "--trace", str(a.trace),
            "--setups", str(setups), "--min-warm", str(min_warm),
            "--check-dir", check_dir, "--out", out_path, "--run-id", os.path.basename(run_dir)]
    if wl.get("churn"):
        jvm += ["--variants", os.path.join(cache, "variants")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=tmp)
    jvm_log = os.path.join(run_dir, "jvm.log")
    jvm += ["--launch-ms", repr(time.time() * 1000.0)]
    t_jvm = time.time()
    cpu0 = cpu_times()
    code = run_bounded(jvm, jvm_log, JVM_TIMEOUT_S, cwd=run_dir, env=env)
    cpu1 = cpu_times()
    t_oracle = time.time()
    if code != 0 or not os.path.exists(out_path):
        sys.stderr.write(tail(jvm_log))
        fail(f"harness JVM failed (exit {code})", 1)
    with open(out_path) as f:
        out = json.load(f)

    checked = oracle.check(ROOT, data_dir, check_dir, wl["ops"], cores)
    for c in out["check"]["ops"]:
        if not c["ok"]:
            checked[c["key"]] = f"check pass threw: {c['error']}"

    report = metrics.derive(out, checked, trace=bool(a.trace))
    report["env"] = dict(out["env"], seed=a.seed, workload=a.workload, smoke=smoke,
                         commit=git_commit(), source_hash=stamp, nproc=cores, heap=HEAP,
                         inputs=manifest["tables"], wall_s=time.time() - t_start,
                         prepare_s=t_jvm - t_start, jvm_s=t_oracle - t_jvm,
                         oracle_s=time.time() - t_oracle)
    if cpu0 and cpu1 and len(cpu1) > 7:
        # Share of the machine's CPU time the hypervisor gave to other guests
        # while the harness ran: a high value marks a run slowed from outside.
        d = [b - a for a, b in zip(cpu0, cpu1)]
        report["env"]["cpu_steal_frac"] = d[7] / sum(d) if sum(d) else 0.0
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    res_base = os.path.join(WORK, "results", f"{tag}-t{a.trace}")
    with open(res_base + ".json", "w") as f:
        json.dump(dict(report, raw=out), f, indent=1)
    for e in report["errors"]:
        log(f"FAIL {e}")
    shutil.rmtree(run_dir, ignore_errors=True)

    detail = {k: report[k] for k in ("metrics", "errors", "env")
              + (("span_residual_s",) if a.trace else ())}
    detail["fail_frac"] = report["failed"] / report["attempted"]
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": report["failed"] == 0, "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in report["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
