#!/usr/bin/env python3
"""Steadiness tool: run one workload K times, each with another seed, and
print every metric's median, quartile spread and range as shares of the
median, next to the bound BENCHMARK.json sets for it.

    python3 mvbench/steady.py --workload mv_serve --runs 10

Printed as diagnostics of a busy machine, for each run: the one-minute load
average at its start and end; the time a fixed pure-Python loop takes just
before it; and the share of CPU time the hypervisor gave to other virtual
machines during it (steal, from /proc/stat), which the load average inside
this one does not see. No metric is ever divided by any of them.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

import stats

ROOT = Path(__file__).resolve().parent.parent


def probe_s():
    """Seconds a fixed single-threaded loop takes: a host-speed diagnostic."""
    t = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * i
    return time.perf_counter() - t


def cpu_times():
    """(steal, total) jiffies over all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return xs[7], sum(xs)


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, failed = {}, 0
    for i in range(a.runs):
        seed = 1 + i
        cmd = [sys.executable, str(ROOT / "mvbench" / "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        probe = probe_s()
        c0 = cpu_times()
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        c1 = cpu_times()
        steal = (f"{100.0 * (c1[0] - c0[0]) / max(1, c1[1] - c0[1]):.1f}%"
                 if c0 and c1 else "n/a")
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if r.returncode == 0 and lines else None
        report = ROOT / ".bench_build" / "work" / a.workload / "out" / "report.json"
        load = json.loads(report.read_text())["loadavg_start_end"] if report.exists() else []
        if res is None or not res["correct"]:
            failed += 1
            print(f"seed {seed}: FAILED (exit {r.returncode})", flush=True)
            continue
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        shown = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed}: {shown}  loadavg {load}  probe_s {probe:.3f}  "
              f"steal {steal}", flush=True)
    print(f"\n{a.workload}: {a.runs - failed} good runs of {a.runs}")
    print(f"{'metric':36s} {'median':>12s} {'iqr/med':>8s} {'range/med':>9s} {'bound':>6s}")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        s = stats.spread(vs)
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if s["iqr_rel"] < b / 3 else "  WIDE")
        print(f"{k:36s} {s['median']:12.5g} {s['iqr_rel']:8.3f} {s['range_rel']:9.3f} "
              f"{'' if b is None else b:>6}{flag}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
