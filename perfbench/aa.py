#!/usr/bin/env python3
"""Steadiness (A/A) check: run each workload repeatedly on the same code,
one seed per run, and print per metric the median, the quartiles, the
min/max and the quartile spread as a share of the median, plus the
median wall_s and jvm.cpu_s at each pass index (to place the warm-up).

    python3 perfbench/aa.py --runs 10 [--workloads assembly,serve] [--trace 0]
        [--warmup N] [--seed0 1]

Output is markdown; perfbench/STEADINESS.md is a committed copy.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
import time

import run

PASS = re.compile(r"^pass +(\d+) (\w+) +traced=\d wall_s=([\d.]+) jvm\.cpu_s=([\d.]+) "
                  r"host\.steal_share=([\d.]+)")


def main():
    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--warmup", type=int)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    print(f"# A/A runs: {a.runs} per workload, --seconds {a.seconds}, --trace {a.trace}"
          + (f", --warmup {a.warmup}" if a.warmup is not None else "") + "\n")
    for w in a.workloads.split(","):
        values, profile, walls, runs = {}, {}, [], []
        for seed in range(a.seed0, a.seed0 + a.runs):
            cmd = [sys.executable, str(run.HERE / "run.py"), "--workload", w, "--seed",
                   str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
            if a.warmup is not None:
                cmd += ["--warmup", str(a.warmup)]
            t = time.monotonic()
            r = subprocess.run(cmd, cwd=run.ROOT, stdout=subprocess.PIPE, text=True)
            walls.append(time.monotonic() - t)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"run {w} seed {seed} failed with {r.returncode}")
                continue
            res = json.loads(lines[-1])
            if not res["correct"]:
                print(f"run {w} seed {seed}: incorrect ({res['failed']}/{res['attempted']})")
            for n, m in res["metrics"].items():
                values.setdefault(n, []).append(m["value"])
            steal = []
            for line in lines:
                g = PASS.match(line)
                if g:
                    profile.setdefault((int(g[1]), g[2]), []).append(
                        (float(g[3]), float(g[4]), float(g[5])))
                    steal.append(float(g[5]))
            runs.append((seed, res["metrics"], max(steal), walls[-1]))
        print(f"## {w}\n\nprocess wall per run: median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s\n")
        print("| metric | median | q1 | q3 | min | max | spread | bound |")
        print("|---|---|---|---|---|---|---|---|")
        for n, xs in values.items():
            med = statistics.median(xs)
            q1, q3 = run.quartiles(xs)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(n)
            print(f"| {n} | {med:.4g} | {q1:.4g} | {q3:.4g} | {min(xs):.4g} | {max(xs):.4g} "
                  f"| {spread:.3f} | {'' if b is None else b} |")
        print("\n| pass | kind | wall_s (median) | jvm.cpu_s (median) | host.steal_share (median) |")
        print("|---|---|---|---|---|")
        for (i, kind), xs in sorted(profile.items()):
            print(f"| {i} | {kind} | {statistics.median(x[0] for x in xs):.3f} "
                  f"| {statistics.median(x[1] for x in xs):.2f} "
                  f"| {statistics.median(x[2] for x in xs):.3f} |")
        names = list(values)
        print("\n| seed | " + " | ".join(names) + " | max pass steal | process s |")
        print("|---" * (len(names) + 3) + "|")
        for seed, m, steal, wall in runs:
            print(f"| {seed} | " + " | ".join(f"{m[n]['value']:.4g}" for n in names)
                  + f" | {steal:.3f} | {wall:.1f} |")
        print(flush=True)


if __name__ == "__main__":
    main()
