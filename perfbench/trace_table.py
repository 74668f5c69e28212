#!/usr/bin/env python3
"""Print a span dump's per-layer summary as a markdown table.

Usage: python3 perfbench/trace_table.py .bench_build/perfbench/traces/<run>.json

The table lists each span name with its count, total and self time, its
self time's share of the traced units' time, and the Spark work charged
to it (jobs, tasks, executor CPU, shuffle written, driver gap).
"""
import json
import sys


def main(path):
    with open(path) as fh:
        t = json.load(fh)
    print(f"### {t['workload']} (seed {t['seed']}): traced units total {t['unit_ms_total']:.0f} ms\n")
    print("| span | count | total ms | self ms | self share | jobs | tasks | executor CPU ms "
          "| shuffle write MB | driver gap ms |")
    print("|---|---:|---:|---:|---:|---:|---:|---:|---:|---:|")
    for s in t["summary"]:
        print(f"| `{s['name']}` | {s['count']} | {s['total_ms']:.0f} | {s['self_ms']:.0f} "
              f"| {100 * s['self_share_of_units']:.1f}% | {s['jobs']:.0f} | {s['tasks']:.0f} "
              f"| {s['executor_cpu_ms']:.0f} | {s['shuffle_write_bytes'] / 1e6:.2f} "
              f"| {s['driver_gap_ms']:.0f} |")
    print()


if __name__ == "__main__":
    for p in sys.argv[1:]:
        main(p)
