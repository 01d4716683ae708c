#!/usr/bin/env python3
"""Compare two A/A sets written by perfbench/aa.py on the same code: per
workload and end-to-end metric, each set's median and quartile spread,
and how far the second median lies from the first as a share of the
first, against the metric's bound in BENCHMARK.json.

    python3 perfbench/compare.py first.md second.md
"""
import json
import sys

import run


def medians(path):
    """{(workload, metric): (median, spread)} from an aa.py report."""
    out, workload = {}, None
    for line in open(path):
        if line.startswith("## "):
            workload = line[3:].strip()
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if workload and len(cells) == 8 and cells[0] not in ("metric", "---"):
            try:
                out[(workload, cells[0])] = (float(cells[1]), float(cells[6]))
            except ValueError:
                pass
    return out


def main():
    first, second = map(medians, sys.argv[1:3])
    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    print("| workload | metric | first median | second median | change | "
          "first spread | second spread | bound | within |")
    print("|---" * 9 + "|")
    ok = True
    for w in (w["name"] for w in bench["workloads"]):
        for m in bench["end_to_end"]:
            a, b = first.get((w, m["name"])), second.get((w, m["name"]))
            if a is None or b is None:
                print(f"| {w} | {m['name']} | missing | | | | | {m['bound']} | no |")
                ok = False
                continue
            change = (b[0] - a[0]) / a[0]
            worse = change if m["better"] == "lower" else -change
            within = worse <= m["bound"]
            ok &= within
            print(f"| {w} | {m['name']} | {a[0]:.4g} | {b[0]:.4g} | {change:+.3f} | "
                  f"{a[1]:.3f} | {b[1]:.3f} | {m['bound']} | {'yes' if within else 'NO'} |")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
