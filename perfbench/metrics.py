"""Metric catalogue and derivation from one harness run's raw record.

``END_TO_END`` and ``PER_LAYER`` are the metrics ``BENCHMARK.json`` lists,
with their unit and direction; ``PER_LAYER`` also names the module each
layer metric belongs to and the end-to-end metric it should move.
"""
import statistics

# name: (unit, better, definition)
END_TO_END = {
    "setup_s": ("s", "lower", "median over the run's set-ups of GraftSession.local plus the "
                "first Tables.load of every workload table"),
    "first_pass_s": ("s", "lower", "wall time of pass 1 in a fresh session (codegen, first "
                     "artifact builds)"),
    "pass_s": ("s", "lower", "median wall time of the warm passes"),
    "op_p50_s": ("s", "lower", "median latency over all warm ops"),
    "op_tail_s": ("s", "lower", "90th percentile of warm-op latency (linear interpolation)"),
    "heap_live_mb": ("MB", "lower", "driver heap used after a forced full GC at the end of "
                     "the timed loop (least of three collections)"),
}

# name: (unit, better, layer, end-to-end metric it should move)
PER_LAYER = {
    "session.create_s": ("s", "lower", "GraftSession", "setup_s"),
    "tables.load_cold_s": ("s", "lower", "sources.Tables", "setup_s"),
    "tables.load_warm_s": ("s", "lower", "sources.Tables", "op_p50_s"),
    "tables.load_calls": ("count", "lower", "sources.Tables", "setup_s"),
    "operators.build_s": ("s", "lower", "operators.* via SparkEntry", "pass_s"),
    "operators.build_jobs": ("count", "lower", "operators.* via SparkEntry", "pass_s"),
    "planner.analysis_s": ("s", "lower", "Catalyst + plans/functions", "op_p50_s"),
    "planner.optimizer_s": ("s", "lower", "Catalyst + plans/functions", "op_p50_s"),
    "planner.physical_s": ("s", "lower", "Catalyst + plans/functions", "op_p50_s"),
    "planner.plan_s": ("s", "lower", "Catalyst + plans/functions", "op_p50_s"),
    "planner.plan_nodes": ("count", "lower", "Catalyst", "pass_s"),
    "planner.exchanges": ("count", "lower", "Catalyst", "pass_s"),
    "codegen.compiles": ("count", "lower", "whole-stage codegen", "first_pass_s"),
    "codegen.compile_s": ("s", "lower", "whole-stage codegen", "first_pass_s"),
    "exec.run_s": ("s", "lower", "Spark execution", "op_p50_s"),
    "exec.driver_s": ("s", "lower", "Spark execution", "op_p50_s"),
    "exec.jobs": ("count", "lower", "Spark execution", "op_p50_s"),
    "exec.stages": ("count", "lower", "Spark execution", "op_p50_s"),
    "exec.tasks": ("count", "lower", "Spark execution", "op_p50_s"),
    "exec.executor_run_s": ("s", "lower", "execution", "pass_s"),
    "exec.executor_cpu_s": ("s", "lower", "execution", "pass_s"),
    "exec.busy_frac": ("ratio", "higher", "execution", "pass_s"),
    "exec.input_rows": ("count", "lower", "scan (Tables + parquet)", "pass_s"),
    "exec.input_bytes": ("bytes", "lower", "scan (Tables + parquet)", "pass_s"),
    "exec.shuffle_write_bytes": ("bytes", "lower", "execution", "pass_s"),
    "exec.shuffle_read_bytes": ("bytes", "lower", "execution", "pass_s"),
    "exec.spill_bytes": ("bytes", "lower", "execution", "op_tail_s"),
    "exec.peak_exec_mem_mb": ("MB", "lower", "execution", "op_tail_s"),
    "exec.gc_s": ("s", "lower", "execution", "op_tail_s"),
    "exec.task_failures": ("count", "lower", "execution", "correct"),
    "artifacts.builds": ("count", "lower", "plans.SharedRel", "pass_s"),
    "artifacts.build_share": ("ratio", "lower", "plans.SharedRel", "pass_s"),
    "artifacts.builds_per_id": ("ratio", "lower", "plans.SharedRel", "first_pass_s"),
    "storage.blocks": ("count", "lower", "plans.Checkpoints", "heap_live_mb"),
    "storage.mem_mb": ("MB", "lower", "plans.Checkpoints", "heap_live_mb"),
    "storage.growth_mb_per_pass": ("MB", "lower", "plans.Checkpoints", "heap_live_mb"),
    "trace.overhead_s": ("s", "lower", "this benchmark's tracing", "pass_s"),
}

# Per-op counters summed over a pass, by per-layer metric name.
_EXEC_KEYS = ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_rows",
              "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "gc_s", "task_failures"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Linear-interpolated percentile (numpy's default method)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _metric(catalog, name, value, samples, **extra):
    unit, better = catalog[name][0], catalog[name][1]
    return dict(value=value, unit=unit, better=better, samples=samples, **extra)


def _covered_ms(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _spans_by_op(spans):
    """(op span, self times in ms) for every op span.

    An op's children are its build, plan and exec spans; job spans hang
    under build or exec. Self time is a span's duration minus what its
    children cover, so the build and exec self times exclude Spark jobs,
    which are counted once, as ``jobs``.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        if s["name"].startswith("op:"):
            d = {"build": 0.0, "plan": 0.0, "exec": 0.0, "jobs": 0.0}
            for c in kids.get(s["id"], []):
                dur = c["end_ms"] - c["start_ms"]
                jobs = _covered_ms([(j["start_ms"], j["end_ms"]) for j in kids.get(c["id"], [])],
                                   c["start_ms"], c["end_ms"])
                d[c["name"]] += dur - jobs
                d["jobs"] += jobs
            yield s, d


def _pass_layer(p, span_ops):
    """Per-layer totals of one traced pass."""
    ops = p["ops"]
    tr = [o["trace"] for o in ops if "trace" in o]
    ex = [t["exec"] for t in tr]
    wall = sum(o["wall_s"] for o in ops)
    builds = [b for t in tr for b in t["artifact_builds"]]
    ids = {b["id"] for b in builds}
    v = {
        "operators.build_s": sum(d["build"] for _, d in span_ops) / 1000.0,
        "planner.plan_s": sum(d["plan"] for _, d in span_ops) / 1000.0,
        "exec.run_s": sum(d["jobs"] for _, d in span_ops) / 1000.0,
        "exec.driver_s": sum(d["exec"] for _, d in span_ops) / 1000.0,
        "residual_s": sum(abs(s["end_ms"] - s["start_ms"] - sum(d.values()))
                          for s, d in span_ops) / 1000.0,
        "operators.build_jobs": sum(e["build_jobs"] for e in ex),
        "planner.analysis_s": sum(t["analysis_s"] for t in tr),
        "planner.optimizer_s": sum(t["optimizer_s"] for t in tr),
        "planner.physical_s": sum(t["physical_s"] for t in tr),
        "planner.plan_nodes": sum(t["plan_nodes"] for t in tr),
        "planner.exchanges": sum(t["exchanges"] for t in tr),
        "exec.peak_exec_mem_mb": max([e["peak_exec_mem_mb"] for e in ex] or [0.0]),
        "artifacts.builds": len(builds),
        "artifacts.build_share": sum(b["s"] for b in builds) / p["wall_s"],
        "artifacts.builds_per_id": len(builds) / len(ids) if ids else 0.0,
    }
    for k in _EXEC_KEYS:
        v["exec." + k] = sum(e[k] for e in ex)
    v["exec.busy_frac"] = v["exec.executor_run_s"] / wall / p["cores"] if wall else 0.0
    return v


def derive(out, checked, trace):
    """Metrics, attempt/failure counts and error list of one run."""
    passes = out["passes"]
    cold, warm = passes[0], passes[1:]
    errors = []
    attempted = failed = 0
    for p in passes:
        for o in p["ops"]:
            attempted += 1
            if not o["ok"]:
                failed += 1
                errors.append(f"pass {p['index']} {o['key']}: {o['error']}")
    for op, msg in checked.items():
        attempted += 1
        if msg is not None:
            failed += 1
            errors.append(f"oracle {op}: {msg}")

    m = {}
    setups = out["setups"]
    if not trace:
        warm_ops = [o["wall_s"] for p in warm for o in p["ops"]]
        tail = percentile(warm_ops, 90)
        m["setup_s"] = _metric(END_TO_END, "setup_s", median([s["total_s"] for s in setups]),
                               len(setups), launch_to_ready_s=out["setup_launch_s"])
        m["first_pass_s"] = _metric(END_TO_END, "first_pass_s", cold["wall_s"], 1)
        m["pass_s"] = _metric(END_TO_END, "pass_s", median([p["wall_s"] for p in warm]),
                              len(warm))
        m["op_p50_s"] = _metric(END_TO_END, "op_p50_s", median(warm_ops), len(warm_ops))
        m["op_tail_s"] = _metric(END_TO_END, "op_tail_s", tail, len(warm_ops), percentile=90,
                                 beyond=sum(1 for x in warm_ops if x > tail))
        m["heap_live_mb"] = _metric(END_TO_END, "heap_live_mb", out["heap_live_mb"], 1)
        return dict(metrics=m, errors=errors, attempted=attempted, failed=failed)

    cores = out["env"]["cores"]
    spans_by_pass = {}
    pass_of = {s["id"]: int(s["name"].split(":")[1]) for s in out["spans"]
               if s["name"].startswith("pass:")}
    for s, d in _spans_by_op(out["spans"]):
        spans_by_pass.setdefault(pass_of.get(s["parent"]), []).append((s, d))
    traced_warm = [p for p in warm if p["traced"]]
    untraced_warm = [p for p in warm if not p["traced"]]
    layer = [_pass_layer(dict(p, cores=cores), spans_by_pass.get(p["index"], []))
             for p in traced_warm]
    for name in PER_LAYER:
        vals = [v[name] for v in layer if name in v]
        if vals:
            m[name] = _metric(PER_LAYER, name, median(vals), len(vals))
    loads = [x for p in passes for x in p["loads"]]
    m["session.create_s"] = _metric(PER_LAYER, "session.create_s",
                                    median([s["create_s"] for s in setups]), len(setups))
    cold_loads = [x for s in setups for x in s["load_s"]]
    m["tables.load_cold_s"] = _metric(PER_LAYER, "tables.load_cold_s", median(cold_loads),
                                      len(cold_loads))
    # Loads before warm passes: memo hits, or in corpus_churn the reload of
    # the table a rewrite just changed (it never hits there).
    warm_loads = [x for p in warm for x in p["loads"]]
    m["tables.load_warm_s"] = _metric(PER_LAYER, "tables.load_warm_s",
                                      median([x["s"] for x in warm_loads]), len(warm_loads),
                                      hits=sum(1 for x in warm_loads if x["hit"]))
    m["tables.load_calls"] = _metric(PER_LAYER, "tables.load_calls",
                                     len(cold_loads) + len(loads), 1)
    m["codegen.compiles"] = _metric(PER_LAYER, "codegen.compiles", cold["codegen_compiles"], 1)
    m["codegen.compile_s"] = _metric(PER_LAYER, "codegen.compile_s",
                                     cold["codegen_compile_s"], 1)
    m["storage.blocks"] = _metric(PER_LAYER, "storage.blocks",
                                  median([p["storage_blocks"] for p in warm]), len(warm))
    m["storage.mem_mb"] = _metric(PER_LAYER, "storage.mem_mb",
                                  median([p["storage_mem_mb"] for p in warm]), len(warm))
    growth = ((passes[-1]["storage_mem_mb"] - passes[0]["storage_mem_mb"]) / (len(passes) - 1)
              if len(passes) > 1 else 0.0)
    m["storage.growth_mb_per_pass"] = _metric(PER_LAYER, "storage.growth_mb_per_pass", growth,
                                              len(passes))
    overhead = (median([p["wall_s"] for p in traced_warm])
                - median([p["wall_s"] for p in untraced_warm])
                if traced_warm and untraced_warm else 0.0)
    m["trace.overhead_s"] = _metric(PER_LAYER, "trace.overhead_s", overhead,
                                    len(traced_warm) + len(untraced_warm))
    for name in PER_LAYER:  # a layer with no traced warm pass (smoke) reads 0
        m.setdefault(name, _metric(PER_LAYER, name, 0.0, 0))
    m = {k: m[k] for k in PER_LAYER}
    per_op = {}
    for p in traced_warm:
        for o in p["ops"]:
            t = o.get("trace", {})
            row = per_op.setdefault(o["key"], {})
            for k, v in [("wall_s", o["wall_s"]), ("build_s", o["build_s"]),
                         ("plan_s", t.get("plan_s", 0.0)), ("exec_s", t.get("exec_s", 0.0)),
                         ("plan_nodes", t.get("plan_nodes", 0)),
                         ("artifact_builds", len(t.get("artifact_builds", [])))] + \
                    [(k, t.get("exec", {}).get(k, 0)) for k in _EXEC_KEYS]:
                row.setdefault(k, []).append(v)
    per_op = {k: {f: median(v) for f, v in row.items()} for k, row in per_op.items()}
    # Op wall time the span self times leave unaccounted (0 when they cover it).
    residual = max([v["residual_s"] for v in layer] or [0.0])
    return dict(metrics=m, per_op=per_op, span_residual_s=residual, errors=errors,
                attempted=attempted, failed=failed)
