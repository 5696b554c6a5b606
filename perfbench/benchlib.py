"""Workload definitions and the arithmetic of the benchmark.

Everything here is pure Python with no I/O, so test_benchlib.py can check
it without Spark.
"""
import math
import random
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# Each workload runs on one input directory: "base" is the committed
# sf0.01 copy of the engine's test tables; "x10" is that copy replicated
# ten times by graft.ScaleData (disjoint key ranges per replica).
WORKLOADS = {
    "panel_sf0.01": {
        "data": "base",
        "why": "kinematics, field control and coverage features, a relational "
               "scan, a streaming gate and a lakehouse write on small data: "
               "planning, the scheduler floor and commit overheads dominate",
        "queries": [
            "q01_pricing_summary", "q13_kinematics", "q14_field_control",
            "q158_feature_matrix", "q81_stream_dedup", "q127_compaction_roundtrip",
        ],
    },
    "heavy_sf0.1": {
        "data": "x10",
        "why": "two panel queries on ten times the data: scan, exchange and "
               "operator time dominate, so a layer change shows apart from "
               "the panel",
        "queries": ["q01_pricing_summary", "q13_kinematics"],
    },
}

SCALE_FACTOR = 10
# Fact tables whose row counts prove a scaled copy is complete.
FACT_TABLES = ("lineitem", "orders", "events")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "heap_live_mb": "MB",
}

# Per-layer metrics and how a workload total is formed from the per-query
# numbers: "sum" adds the per-query medians, "max" takes the largest.
# scheduler.busy_frac, scheduler.task_p50_ms, the set-up phases and
# trace.overhead_frac are formed separately (see layer_totals).
PER_LAYER = {
    "GraftSession.create_ms": ("ms", "setup"),
    "GraftSession.warmup_ms": ("ms", "setup"),
    "queries.stage_fixtures_ms": ("ms", "setup"),
    "queries.build_ms": ("ms", "sum"),
    "queries.build_jobs": ("count", "sum"),
    "plans.analysis_ms": ("ms", "sum"),
    "plans.optimization_ms": ("ms", "sum"),
    "plans.planning_ms": ("ms", "sum"),
    "plans.graft_rule_ms": ("ms", "sum"),
    "plans.exchanges": ("count", "sum"),
    "scheduler.jobs": ("count", "sum"),
    "scheduler.stages": ("count", "sum"),
    "scheduler.tasks": ("count", "sum"),
    "scheduler.task_p50_ms": ("ms", "pooled"),
    "scheduler.deser_ms": ("ms", "sum"),
    "scheduler.busy_frac": ("frac", "busy"),
    "Tables.bytes_read": ("bytes", "sum"),
    "Tables.rows_read": ("rows", "sum"),
    "Tables.files_read": ("count", "sum"),
    "Tables.scan_ms": ("ms", "sum"),
    "ops.shuffle_write_bytes": ("bytes", "sum"),
    "ops.shuffle_read_bytes": ("bytes", "sum"),
    "ops.shuffle_records": ("rows", "sum"),
    "ops.fetch_wait_ms": ("ms", "sum"),
    "ops.shuffle_skew": ("ratio", "max"),
    "ops.cpu_ms": ("ms", "sum"),
    "ops.gc_ms": ("ms", "sum"),
    "ops.spill_bytes": ("bytes", "sum"),
    "ops.peak_exec_mem_mb": ("MB", "max"),
    "CacheScope.cached_mb": ("MB", "max"),
    "streaming.batches": ("count", "sum"),
    "streaming.trigger_ms": ("ms", "sum"),
    "streaming.add_batch_ms": ("ms", "sum"),
    "streaming.query_planning_ms": ("ms", "sum"),
    "streaming.wal_commit_ms": ("ms", "sum"),
    "streaming.state_rows": ("rows", "sum"),
    "streaming.state_mb": ("MB", "sum"),
    "streaming.state_commit_ms": ("ms", "sum"),
    "streaming.lifecycle_ms": ("ms", "sum"),
    "write.bytes": ("bytes", "sum"),
    "write.rows": ("rows", "sum"),
    "write.files": ("count", "sum"),
    "trace.overhead_frac": ("frac", "overhead"),
}

SETUP_KEYS = {
    "GraftSession.create_ms": "create_ms",
    "GraftSession.warmup_ms": "warmup_ms",
    "queries.stage_fixtures_ms": "stage_fixtures_ms",
}


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median and third quartile, as
    statistics.quantiles(xs, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def iqr_share(xs):
    """Distance between the first and third quartile as a share of the
    median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def permutation(names, seed):
    """The query order of one run: a shuffle that depends only on the
    seed."""
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def per_query_medians(samples, key):
    by_query = {}
    for s in samples:
        by_query.setdefault(s["query"], []).append(s[key])
    return {q: median(v) for q, v in by_query.items()}


def end_to_end(setups, verify, samples):
    """End-to-end metrics of an untraced run from the harness record.

    pass_s is the sum of the per-query median wall times. heap_live_mb
    is the largest heap any query still held when it ended, measured
    after a full GC in the verify pass."""
    wall = per_query_medians(samples, "wall_ms")
    return {
        "setup_s": median([sum(s.values()) / 1000.0 for s in setups]),
        "pass_s": sum(wall.values()) / 1000.0,
        "query_geomean_s": geomean([v / 1000.0 for v in wall.values()]),
        "heap_live_mb": max(v["heap_live_mb"] for v in verify.values()),
    }


def layer_per_query(traced):
    """Per-query medians of every layer metric over the traced samples."""
    out = {}
    by_query = {}
    for s in traced:
        by_query.setdefault(s["query"], []).append(s)
    for q, ss in by_query.items():
        layers = {k: median([s["layers"][k] for s in ss]) for k in ss[0]["layers"]}
        tasks = [t for s in ss for t in s["task_ms"]]
        layers["scheduler.task_p50_ms"] = median(tasks) if tasks else 0.0
        layers["wall_ms"] = median([s["wall_ms"] for s in ss])
        out[q] = layers
    return out


def layer_totals(setups, per_query, traced, untraced, cores):
    """Workload totals of the per-layer metrics."""
    totals = {}
    for name, (_, how) in PER_LAYER.items():
        vals = [layers[name] for layers in per_query.values() if name in layers]
        if how == "sum":
            totals[name] = float(sum(vals))
        elif how == "max":
            totals[name] = float(max(vals, default=0.0))
        elif how == "setup":
            totals[name] = median([s[SETUP_KEYS[name]] for s in setups])
    tasks = [t for s in traced for t in s["task_ms"]]
    totals["scheduler.task_p50_ms"] = float(median(tasks)) if tasks else 0.0
    run_ms = sum(layers["scheduler.run_ms"] for layers in per_query.values())
    wall_ms = sum(layers["wall_ms"] for layers in per_query.values())
    totals["scheduler.busy_frac"] = run_ms / (wall_ms * cores)
    traced_pass = sum(per_query_medians(traced, "wall_ms").values())
    untraced_pass = sum(per_query_medians(untraced, "wall_ms").values())
    totals["trace.overhead_frac"] = traced_pass / untraced_pass - 1.0
    return totals
