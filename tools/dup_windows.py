#!/usr/bin/env python3
"""Duplicated-line count of the query modules (ROADMAP aim 2).

Definition: strip every line of src/main/scala/graft/queries/*.scala,
taking the files in name order. A window is 6 consecutive lines of one
file, each longer than 3 characters after stripping. A line counts when
some window that covers it repeats a window seen earlier, in the same
file or in an earlier one. Prints the count per file (files with none
are left out), then the total.

Usage: python3 tools/dup_windows.py [repo root]   (default: this checkout)
"""
import os
import sys

WINDOW = 6
MIN_LEN = 4


def counts(root):
    qdir = os.path.join(root, "src", "main", "scala", "graft", "queries")
    seen = set()
    per_file = {}
    for name in sorted(f for f in os.listdir(qdir) if f.endswith(".scala")):
        with open(os.path.join(qdir, name), encoding="utf-8") as fh:
            lines = [l.strip() for l in fh.read().split("\n")]
        covered = set()
        for i in range(len(lines) - WINDOW + 1):
            win = tuple(lines[i:i + WINDOW])
            if any(len(l) < MIN_LEN for l in win):
                continue
            if win in seen:
                covered.update(range(i, i + WINDOW))
            seen.add(win)
        per_file[name] = len(covered)
    return per_file


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    per_file = counts(root)
    for name, n in per_file.items():
        if n:
            print(f"{name[:-len('.scala')]}\t{n}")
    print(f"total\t{sum(per_file.values())}")


if __name__ == "__main__":
    main()
