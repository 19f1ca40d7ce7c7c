"""The benchmark's own tests: smoke runs of both workloads, the output
contract, refusal paths, and generator determinism.

Run from the root of a checkout:

    python3 -m unittest perfbench/test_run.py

The smoke runs build the engine on first use (about a minute) and then take
under a minute each.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench", "test")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def run(args, cwd=ROOT, env=None, script=None):
    cmd = [sys.executable, script or os.path.join(HERE, "run.py")] + args
    return subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=900)


def digest(path):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            if f.endswith(".parquet"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_catalogue(self):
        self.assertEqual([m["name"] for m in BENCH["end_to_end"]], list(metrics.END_TO_END))
        self.assertEqual([m["name"] for m in BENCH["per_layer"]], list(metrics.PER_LAYER))
        for m in BENCH["end_to_end"]:
            self.assertEqual((m["unit"], m["better"]), metrics.END_TO_END[m["name"]][:2])
            self.assertLessEqual(m["bound"], 0.25)
        for m in BENCH["per_layer"]:
            self.assertEqual((m["unit"], m["better"]), metrics.PER_LAYER[m["name"]][:2])

    def check_smoke(self, workload, trace, names):
        p = run(["--workload", workload, "--seed", "7", "--seconds", "1", "--trace",
                 str(trace), "--smoke"])
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], p.stdout)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(list(res["metrics"]), names)
        for v in res["metrics"].values():
            self.assertEqual(set(v), {"value", "unit"})

    def test_smoke_geo_job(self):
        self.check_smoke("geo_job", 0, [m["name"] for m in BENCH["end_to_end"]])

    def test_smoke_corpus_churn_traced(self):
        self.check_smoke("corpus_churn", 1, [m["name"] for m in BENCH["per_layer"]])

    def test_refuses_outside_a_checkout(self):
        bare = os.path.join(WORK, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in BENCH["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
        p = run(["--workload", "geo_job", "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=bare, script=os.path.join(bare, "perfbench", "run.py"))
        shutil.rmtree(bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"correct"', p.stdout)

    def test_refuses_forbidden_environment(self):
        env = dict(os.environ, SPARK_GRAFT_ONLY="q1_pricing_summary")
        p = run(["--workload", "geo_job", "--seed", "1", "--seconds", "1", "--trace", "0"],
                env=env)
        self.assertNotEqual(p.returncode, 0)
        self.assertIn("SPARK_GRAFT_ONLY", p.stderr)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_and_other_seed_differs(self):
        for w in ("geo_job", "corpus_churn"):
            a, b, c = (os.path.join(WORK, f"gen-{w}-{i}") for i in "abc")
            for d in (a, b, c):
                shutil.rmtree(d, ignore_errors=True)
            gen.generate(w, 5, a, smoke=True)
            gen.generate(w, 5, b, smoke=True)
            gen.generate(w, 6, c, smoke=True)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))

    def test_event_ids_are_unique_spread_and_overflow_safe(self):
        d = os.path.join(WORK, "gen-events")
        shutil.rmtree(d, ignore_errors=True)
        gen.generate("geo_job", 9, d)
        ids = pq.read_table(os.path.join(d, "data", "events.parquet"),
                            columns=["event_id"]).column(0).to_pylist()
        self.assertEqual(len(ids), len(set(ids)))
        self.assertLess(max(ids), 3_400_000_000)
        # Geo places a point from event_id mod 100000: copies must not stack.
        self.assertGreater(len({i % 100000 for i in ids}), 0.8 * len(ids))

    def test_variant_words_are_disjoint_and_oracle_sized(self):
        base = set(gen.VOCAB) | {"dup"}
        seen = set(base)
        for v in range(gen.SIZES["corpus_churn"]["variants"][0]):
            words = {gen._tagged(w, f"v{v}") for w in base}
            self.assertEqual(len(words), len(base))
            self.assertFalse(words & seen)
            self.assertLessEqual(max(map(len, words)), gen.MAX_WORD)
            seen |= words


if __name__ == "__main__":
    unittest.main()
