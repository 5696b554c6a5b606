#!/usr/bin/env python3
"""Median and quartiles of each metric over several run records, with the
quartile distance as a share of the median: the spread a bound must cover.

    python3 perfbench/spread.py .bench_build/records/panel_sf0.01-seed*-trace0.json
"""
import json
import sys

sys.dont_write_bytecode = True
import benchlib  # noqa: E402


def main(paths):
    values = {}
    for path in paths:
        with open(path) as f:
            for name, m in json.load(f)["metrics"].items():
                values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        if len(xs) < 2:
            print(f"{name}: one run, {xs[0]:.6g}")
            continue
        q1, q2, q3 = benchlib.quartiles(xs)
        print(f"{name}: n={len(xs)} median={q2:.6g} q1={q1:.6g} q3={q3:.6g} "
              f"spread={benchlib.iqr_share(xs):.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
