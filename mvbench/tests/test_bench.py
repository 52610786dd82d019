"""The benchmark's own tests.

    python3 -m unittest discover -s mvbench/tests

The end-to-end tests build the engine on first use and run each workload
on tiny inputs for a few seconds (about two minutes in all).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_refuses_with_fewer_than_ten_samples_beyond(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(99)), 0.9)

    def test_reports_with_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(sum(1 for x in xs if x > 90), 10)

    def test_highest_tail_steps_down(self):
        self.assertEqual(stats.highest_tail(list(range(50)))[0], "p75")
        self.assertIsNone(stats.highest_tail(list(range(30))))


class MetricNames(unittest.TestCase):
    def setUp(self):
        self.bench = json.loads((ROOT / "BENCHMARK.json").read_text())

    def test_benchmark_json_matches_emitted_metrics(self):
        e2e = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        per = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(e2e, stats.END_TO_END)
        self.assertEqual(per, stats.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]),
                         sorted(run.WORKLOADS))

    def test_run_emits_exactly_the_listed_metrics(self):
        op = {"kind": "read", "name": "pt", "primary": True, "dur_ms": 10.0, "ok": True}
        res = {"setup": {"session_s": 1.0, "views_s": 2.0, "total_s": 3.0},
               "phases": [{"ops": [op], "loop_s": 1.0}] * 3,
               "heap_live_mb": [80.0, 90.0], "catalog_bytes": 1 << 20}
        for traced, names in ((False, self.bench["end_to_end"]),
                              (True, self.bench["per_layer"])):
            got = run.metrics(res, traced, failed=0, attempted=2)
            self.assertEqual(set(got), {m["name"] for m in names})
            for m in names:
                self.assertEqual(got[m["name"]]["unit"], m["unit"])


class Tally(unittest.TestCase):
    def test_warmup_failures_count(self):
        ok = {"primary": True, "ok": True}
        res = {"warmup_ops": 5, "warmup_failed": 1,
               "phases": [{"ops": [ok, dict(ok, ok=False)]}]}
        self.assertEqual(run.tally(res), (7, 2))

    def test_geomean_weighs_kinds_equally(self):
        ops = [{"primary": True, "name": n, "dur_ms": d}
               for n, d in (("q1#0", 1.0), ("q1#1", 4.0), ("q2#0", 8.0))]
        ops.append({"primary": False, "name": "commit", "dur_ms": 1000.0})
        self.assertAlmostEqual(run.op_geomean_ms(ops), 4.0)


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            sums = []
            for i, seed in enumerate((7, 7, 8)):
                d = os.path.join(t, str(i))
                gen.generate("mv_serve", seed, d, 2, 1, tiny=True)
                sums.append(gen.checksum(d))
            self.assertEqual(sums[0], sums[1])
            self.assertNotEqual(sums[0], sums[2])


def run_tiny(workload):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "2", "--tiny"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    return r, ROOT / ".bench_build" / "work" / workload


class ModelAndEngineAgree(unittest.TestCase):
    def test_mv_serve_tiny(self):
        r, work = run_tiny("mv_serve")
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertTrue(json.loads(r.stdout.splitlines()[-1])["correct"])
        # the model must notice a wrong answer: corrupt one logged read
        plan = json.loads((work / "plan.json").read_text())
        with tempfile.TemporaryDirectory() as t:
            _, truth = gen.generate("mv_serve", 3, os.path.join(t, "in"), 2, 1, tiny=True)
        self.assertEqual(len(truth["batches"]), len(plan["batches"]))
        out = work / "out"
        log = [json.loads(x) for x in (out / "serve_log.jsonl").read_text().splitlines()]
        self.assertEqual(check.check_serve(truth, out), [])
        i = next(i for i, e in enumerate(log) if e["k"] == "rng" and e["rows"])
        log[i]["rows"][0][1] = (log[i]["rows"][0][1] or 0) + 1
        (out / "serve_log.jsonl").write_text("\n".join(json.dumps(e) for e in log))
        self.assertEqual(len(check.check_serve(truth, out)), 1)

    def test_sql_adhoc_tiny(self):
        r, _ = run_tiny("sql_adhoc")
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertTrue(json.loads(r.stdout.splitlines()[-1])["correct"])


if __name__ == "__main__":
    unittest.main()
