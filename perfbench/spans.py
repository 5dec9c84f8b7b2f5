#!/usr/bin/env python3
"""Summarize the spans of a traced run by name.

    python3 perfbench/spans.py .perfbench/artifacts/catalog-s1-t1.json

Prints, per span name: how many spans, their total duration, their
self time (duration minus the part their children cover) and the Spark
jobs, tasks and task CPU charged to them, largest self time first.
"""
import json
import sys
from collections import defaultdict


def summarize(spans):
    rows = defaultdict(lambda: {"n": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0,
                                "tasks": 0, "task_cpu_s": 0.0})
    for s in spans:
        r = rows[s["name"]]
        r["n"] += 1
        r["total_s"] += s["end"] - s["start"]
        r["self_s"] += s["self_s"]
        for k in ("jobs", "tasks", "task_cpu_s"):
            r[k] += s[k]
    return sorted(rows.items(), key=lambda kv: -kv[1]["self_s"])


def main():
    spans = json.load(open(sys.argv[1]))["spans"]
    print(f"{'span':40s} {'n':>4s} {'total_s':>9s} {'self_s':>9s} {'jobs':>6s} "
          f"{'tasks':>6s} {'cpu_s':>8s}")
    for name, r in summarize(spans):
        print(f"{name:40s} {r['n']:4d} {r['total_s']:9.3f} {r['self_s']:9.3f} "
              f"{r['jobs']:6d} {r['tasks']:6d} {r['task_cpu_s']:8.3f}")


if __name__ == "__main__":
    main()
