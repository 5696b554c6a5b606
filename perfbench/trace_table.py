#!/usr/bin/env python3
"""Per-query table of a traced run's record: how busy the executor cores
were, how many stages ran, and what share of wall time planning took.

    python3 perfbench/trace_table.py .bench_build/records/<workload>-seed<n>-trace1.json
"""
import json
import sys


def table(record):
    rows = ["| query | wall ms | busy_frac | stages | tasks | plans share | build share |",
            "|---|---:|---:|---:|---:|---:|---:|"]
    for q in sorted(record["queries"]):
        v = record["queries"][q]["layers"]
        wall = v["wall_ms"]
        plans = v["plans.analysis_ms"] + v["plans.optimization_ms"] + v["plans.planning_ms"]
        rows.append(f"| {q} | {wall:.0f} | {v['scheduler.busy_frac']:.3f} | "
                    f"{v['scheduler.stages']:.0f} | {v['scheduler.tasks']:.0f} | "
                    f"{plans / wall:.3f} | {v['queries.build_ms'] / wall:.3f} |")
    return "\n".join(rows)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        print(table(json.load(f)))
