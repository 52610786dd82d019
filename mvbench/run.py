#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 mvbench/run.py --workload mv_serve --seed 1 --seconds 20 --trace 0

Steps: build (first run only), generate the seeded inputs as parquet,
run the engine-side harness in one JVM on `GraftSession.create("local[4]")`,
check every result against the model or the DuckDB oracle, and print
`{"correct", "attempted", "failed", "metrics"}` as the last stdout line.
With --trace 0 the metrics are the end-to-end ones. With --trace 1 the run
makes three loops of the same length, untraced, traced and untraced again,
and reports the per-layer metrics of the traced one, the span summary and
the tracing overhead against the untraced loop after it.
The exit code is 0 only when every check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import defaultdict

import build
import check
import gen
import stats

WORKLOADS = ("mv_serve", "sql_adhoc")
HEAP = "2g"         # fixed JVM heap, so heap figures compare across runs
DEADLINE_S = 170    # the whole run, build excluded


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def run_jvm(classpath, plan_path, work, seconds, trace, budget_s):
    tmp = work / "tmp"
    tmp.mkdir()
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", *build.ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "mvbench.Main",
           "--plan", str(plan_path), "--work", str(work), "--seconds", str(seconds),
           "--trace", str(trace)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    with open(work / "jvm.log", "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"engine harness exceeded {budget_s:.0f} s")
        finally:  # never leave the JVM running, also when this process is stopped
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        tail = (work / "jvm.log").read_text()[-3000:]
        raise RuntimeError(f"engine harness exited with {rc}:\n{tail}")


def span_summary(spans):
    """Per span name: count, total ms and self ms (duration minus the part
    of it that child spans cover)."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = defaultdict(lambda: {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
    for s in spans:
        dur = (s["end_us"] - s["start_us"]) / 1000.0
        iv = sorted((max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                    for c in children[s["id"]])
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        o = out[s["name"]]
        o["count"] += 1
        o["total_ms"] += dur
        o["self_ms"] += max(0.0, dur - covered / 1000.0)
    return dict(sorted(out.items()))


def detail(workload, phase):
    """Figures that go to the report, not the JSON line: the median of
    every operation kind, commits included, the tail percentile the sample
    count supports, and for sql_adhoc the time of one full pass."""
    prim = [o for o in phase["ops"] if o["primary"]]
    lat = [o["dur_ms"] for o in prim]
    d = {"samples": len(lat), "op_p50_ms": stats.median(lat)}
    tail = stats.highest_tail(lat)
    if tail:
        d[f"op_{tail[0]}_ms"] = tail[1]
    by = defaultdict(list)
    for o in phase["ops"]:
        by[o["name"].split("#")[0]].append(o["dur_ms"])
    d["p50_ms_by_kind"] = {k: stats.median(v) for k, v in sorted(by.items())}
    if workload == "sql_adhoc":
        passes = defaultdict(list)
        for o in prim:
            passes[o["name"].split("#")[1]].append(o["dur_ms"] / 1000.0)
        full = [sum(v) for v in passes.values() if len(v) == len(by)]
        if full:
            d["mix_s"] = stats.median(full)
            d["mix_passes"] = len(full)
    return d


def op_geomean_ms(ops):
    """Geometric mean, over the kinds of primary operation (a read kind in
    mv_serve, a query in sql_adhoc), of each kind's geometric-mean latency.
    Kinds weigh the same whatever the mix. Within a kind, latency is
    bimodal (a read of a fresh snapshot against one that merges deltas), and
    the mix of those states is fixed per cycle; a median would land on the
    boundary between them and jump between runs, a geometric mean does not."""
    by = defaultdict(list)
    for o in ops:
        if o["primary"]:
            by[o["name"].split("#")[0]].append(o["dur_ms"])
    if not by:
        raise RuntimeError("no operation completed inside the timed loop")
    return stats.geomean(stats.geomean(v) for v in by.values())


def tally(res):
    """(attempted, failed) operations: the warm-up's and the timed loops'.
    Wrong answers are added by the caller after the checks."""
    attempted = res["warmup_ops"] + sum(len(p["ops"]) for p in res["phases"])
    failed = res["warmup_failed"] + sum(
        1 for p in res["phases"] for o in p["ops"] if not o["ok"])
    return attempted, failed


def metrics(res, traced, failed, attempted):
    setup = res["setup"]
    untraced = res["phases"][0]
    if not traced:
        vals = {
            "setup_s": setup["total_s"],
            "op_geomean_ms": op_geomean_ms(untraced["ops"]),
            "ops_per_s": sum(o["primary"] for o in untraced["ops"]) / untraced["loop_s"],
            "heap_live_mb": max(res["heap_live_mb"]),
        }
        units = stats.END_TO_END
    else:
        ops = res["phases"][1]["ops"]
        vals = {}
        for k in stats.OP_COUNTERS:
            xs = [float(o.get(k, 0.0)) for o in ops]
            vals[f"{k}.op_p50"] = stats.median(xs)
            vals[f"{k}.total"] = sum(xs)
        vals.update({
            "setup.session_s": setup["session_s"],
            "setup.views_s": setup["views_s"],
            "ops.count": len(ops),
            "views.disk_mb": res["catalog_bytes"] / 1048576.0,
            "fail_ratio": failed / attempted,
            "trace.overhead_pct": 100.0 * (op_geomean_ms(ops) / op_geomean_ms(
                res["phases"][2]["ops"]) - 1.0),
        })
        units = stats.PER_LAYER
    return {k: {"value": vals[k], "unit": u} for k, u in units.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs, for the benchmark's own tests")
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classpath = build.build()
    except build.BuildFailed as e:
        log(f"build failed: {e}")
        return 2
    started = time.monotonic()
    work = build.BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    phases = 3 if a.trace else 1
    plan, truth = gen.generate(a.workload, a.seed, str(work / "inputs"), a.seconds, phases,
                               tiny=a.tiny)
    print(f"input_sha256 {gen.checksum(work / 'inputs')} seed {a.seed}", flush=True)
    plan_path = work / "plan.json"
    plan_path.write_text(json.dumps(plan))
    wall = {"generate_s": time.monotonic() - started}
    loadavg = [os.getloadavg()[0]]
    try:
        run_jvm(classpath, plan_path, work, a.seconds, a.trace,
                DEADLINE_S - (time.monotonic() - started))
    except RuntimeError as e:
        log(str(e))
        return 3
    loadavg.append(os.getloadavg()[0])
    wall["engine_s"] = time.monotonic() - started - wall["generate_s"]
    out = work / "out"
    res = json.loads((out / "result.json").read_text())

    attempted, failed_ops = tally(res)
    errors = res["errors"]
    try:
        if a.workload == "mv_serve":
            mismatches = check.check_serve(truth, out)
        else:
            mismatches = check.check_adhoc(truth, plan["dir"], out, plan["tables"])
    except (OSError, ValueError, KeyError) as e:
        mismatches = [f"check could not run: {e}"]
    if res["jvm_failures"]:
        mismatches.append(f"{res['jvm_failures']} query results drifted between passes")
    if res["exhausted"]:
        mismatches.append("the generated operations ran out before the time was up")
    wall["check_s"] = time.monotonic() - started - wall["generate_s"] - wall["engine_s"]
    failed = failed_ops + len(mismatches)
    for m in errors + mismatches:
        log(f"FAIL {m}")

    try:
        ms = metrics(res, a.trace == 1, failed, attempted)
    except (RuntimeError, ValueError) as e:
        log(str(e))
        return 4
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "loadavg_start_end": loadavg, "wall": wall, "setup": res["setup"],
              "warmup_s": res["warmup_s"],
              "phases": [detail(a.workload, p) for p in res["phases"]],
              "errors": errors, "mismatches": mismatches, "metrics": ms}
    if a.trace:
        spans = json.loads((out / "spans.json").read_text())
        report["spans"] = span_summary(spans)
        report["span_file"] = str(out / "spans.json")
    (out / "report.json").write_text(json.dumps(report, indent=1))
    log(f"report {out / 'report.json'}  loadavg {loadavg[0]:.2f} -> {loadavg[1]:.2f}  "
        + " ".join(f"{k} {v:.1f}" for k, v in wall.items()))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": ms}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
