#!/usr/bin/env python3
"""Per-entry Spark jobs, wall ms and Catalyst ms of the last traced pass.

    python3 tools/entry_jobs.py .bench_runs/trace-assembly-1.spans.jsonl

Reads the spans file that `perfbench/run.py --trace 1` keeps (workload >
pass > entry > Spark job / Catalyst phase) and prints one row per entry
of the last traced pass, in call order, then the pass total.
"""
import json
import sys
from collections import defaultdict

spans = [json.loads(line) for line in open(sys.argv[1]) if line.strip()]
last = max((s for s in spans if s["layer"] == "pass"), key=lambda s: s["start"])
entries = sorted((s for s in spans if s["layer"] == "entry" and s["parent"] == last["id"]),
                 key=lambda s: s["start"])
jobs, catalyst = defaultdict(int), defaultdict(float)
for s in spans:
    if s["layer"] == "spark":
        jobs[s["parent"]] += 1
    elif s["layer"] == "catalyst":
        catalyst[s["parent"]] += s["end"] - s["start"]

print(f"pass {last['name']}\n")
print("| entry | jobs | wall ms | Catalyst ms |")
print("|---|---:|---:|---:|")
for e in entries:
    print(f"| {e['name']} | {jobs[e['id']]} | {e['end'] - e['start']:.0f} "
          f"| {catalyst[e['id']]:.0f} |")
print(f"| total | {sum(jobs[e['id']] for e in entries)} "
      f"| {sum(e['end'] - e['start'] for e in entries):.0f} "
      f"| {sum(catalyst[e['id']] for e in entries):.0f} |")
