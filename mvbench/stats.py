"""Summary statistics and the metric sets the benchmark reports."""
import math
import statistics

# Reported with --trace 0, by every workload. Each is never zero.
END_TO_END = {
    "setup_s": "s",
    "op_geomean_ms": "ms",
    "ops_per_s": "1/s",
    "heap_live_mb": "MB",
}

# Per-operation counters the traced phase records; each is reported as the
# median over operations (".op_p50") and the sum over the run (".total").
OP_COUNTERS = {
    "sql.statement_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.executions": "count",
    "views.apply_ms": "ms",
    "views.refresh_ms": "ms",
    "views.read_ms": "ms",
    "views.fetch_ms": "ms",
    "views.commit_files": "count",
    "views.commit_mb": "MB",
    "views.compactions": "count",
    "views.chain_len": "count",
    "tables.files_read": "count",
    "tables.scan_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.codegen_compiles": "count",
    "spark.codegen_ms": "ms",
    "spark.driver_ms": "ms",
    "jvm.gc_count": "count",
    "jvm.gc_ms": "ms",
}

PER_RUN = {
    "setup.session_s": "s",
    "setup.views_s": "s",
    "ops.count": "count",
    "views.disk_mb": "MB",
    "fail_ratio": "ratio",
    "trace.overhead_pct": "%",
}


PER_LAYER = {f"{k}.{agg}": u for k, u in OP_COUNTERS.items() for agg in ("op_p50", "total")}
PER_LAYER.update(PER_RUN)

MIN_BEYOND = 10  # samples a tail percentile needs above it


class TooFewSamples(ValueError):
    pass


def percentile(values, p):
    """Nearest-rank percentile `p` (0 < p < 1). A tail percentile is refused
    unless at least MIN_BEYOND samples lie beyond its rank."""
    if not values:
        raise TooFewSamples("no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p * len(xs)))
    if p > 0.5 and len(xs) - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{round(p * 100)} of {len(xs)} samples has {len(xs) - rank} beyond it; "
            f"needs {MIN_BEYOND}")
    return xs[rank - 1]


def highest_tail(values):
    """The highest of p99, p95, p90, p75 the sample count supports, as
    (label, value), or None."""
    for p in (0.99, 0.95, 0.9, 0.75):
        try:
            return f"p{round(p * 100)}", percentile(values, p)
        except TooFewSamples:
            pass
    return None


def median(values):
    return statistics.median(values)


def spread(values):
    """Median, quartile distance over median, and (max - min) over median."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med,
            "iqr_rel": (q3 - q1) / med if med else float("inf"),
            "range_rel": (max(values) - min(values)) / med if med else float("inf")}


def geomean(values):
    logs = [math.log(v) for v in values]
    return math.exp(sum(logs) / len(logs))
