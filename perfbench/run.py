#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload assembly --seed 1 --seconds 10 --trace 0

Builds the engine (src/main/scala) and the benchmark driver
(perfbench/src) with the Scala compiler that ships with Spark, then runs
one JVM on local[nproc] with one closed-loop caller: session start, a
cold pass (first-touch staging into a fresh, private stage root; it also
checks each entry's content digest), warm-up passes, and timed passes
(each checks row counts) until --seconds of pass time are spent, and at
least three. wall_s is the median timed pass. The seed permutes the
entries' call order.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(medians of traced passes; staged.setup_* are the cold pass's staging,
the only pass that stages on these workloads), each layer's self time
and the tracing overhead. The last stdout line is the JSON result.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# the sf0.1 tables (TESTDATA.md), read only
DATA = Path(os.environ.get("GRAFT_BENCH_DATA", Path.home() / "testdata" / "sf0.1"))
HEAP = "4g"
DEADLINE_S = 170

# entries, and the warm-up passes after the cold pass (see
# perfbench/STEADINESS.md for where jvm.cpu_s per pass levels off)
WORKLOADS = {
    # the paper's prune -> best-successor -> stitch assembly: barrier-bound
    # (90 small jobs a pass at ~11 % core use); the genomics stitch loops
    "assembly": (["q70_prune_flag", "q71_best_successor", "q72_stitch_contigs",
                  "q73_stitch_udaf", "q74_stitch_iterative", "q75_nonbest_invalid",
                  "q76_stitch_frontier"], 2),
    # per-row kernels (JPEG decode + pHash DCT over media staged in the cold
    # pass, MinHash banding): 26 jobs a pass at ~28 % core use
    "kernels": (["q175_image_phash_pairs", "q33_jaccard_pairs"], 2),
}

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]

END_TO_END = [("wall_s", "s"), ("setup_s", "s")]
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.stages_skipped", "count"),
    ("spark.tasks", "count"), ("spark.tasks_per_job", "count"),
    ("spark.failed_tasks", "count"), ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.task_gc_s", "s"), ("spark.util", "ratio"), ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.job_busy_s", "s"),
    ("driver.gap_s", "s"), ("catalyst.planning_s", "s"), ("catalyst.actions", "count"),
    ("jvm.cpu_s", "s"), ("jvm.driver_cpu_s", "s"), ("jvm.jit_s", "s"), ("jvm.gc_s", "s"),
    ("staged.setup_write_s", "s"), ("staged.setup_written_mb", "MB"),
    ("staged.setup_versions", "count"),
    ("self.bench_s", "s"), ("self.driver_s", "s"), ("self.catalyst_s", "s"),
    ("trace.overhead_s", "s"),
    ("stored_mb", "MB"), ("host.steal_share", "ratio"), ("host.load1", "load"), ("host.nproc", "count"),
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.exists() else "")
    if not m:
        fail(f"no unmanagedBase jar directory in {sbt}")
    jars = Path(m[1])
    if not any(jars.glob("scala-compiler-*.jar")):
        fail(f"no Scala compiler in {jars}")
    return jars


def build():
    """Compile the engine and the driver into .bench_build, keyed by a
    digest of their sources; returns the classpath."""
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    driver = sorted((HERE / "src").rglob("*.scala"))
    if not engine:
        fail(f"no engine sources under {ROOT / 'src/main/scala'}")
    h = hashlib.sha256()
    for f in engine + driver:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    out = ROOT / ".bench_build" / f"graftbench-{h.hexdigest()[:16]}"
    cp_jars = str(spark_jars() / "*")
    if not (out / "ok").exists():
        shutil.rmtree(out, ignore_errors=True)
        for name, srcs, cp in (("engine", engine, cp_jars),
                               ("driver", driver, f"{out / 'engine'}:{cp_jars}")):
            (out / name).mkdir(parents=True)
            (out / f"{name}.args").write_text("\n".join(str(f) for f in srcs))
            r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
                                f"-Djava.io.tmpdir={out}", "-cp", cp_jars,
                                "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
                                "-d", str(out / name), f"@{out / f'{name}.args'}"],
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                fail(f"compiling the {name} failed:\n{r.stdout[-4000:]}")
        (out / "ok").write_text("")
    return f"{out / 'engine'}:{out / 'driver'}:{cp_jars}"


def java(tmp, cp, *args):
    """The benchmark JVM: fixed heap, the build.sbt module opens, and its
    temp dir (so its stage root) under `tmp`."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + ADD_OPENS +
            [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main"] + list(args))


def tree_bytes(p):
    total = 0
    for d, _, files in os.walk(p):
        for f in files:
            st = os.lstat(os.path.join(d, f))
            total += st.st_size
    return total


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def merged(intervals):
    """Sorted, disjoint cover of the intervals."""
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def covered(intervals):
    return sum(e - s for s, e in merged(intervals))


def self_times(spans):
    """Per traced pass, the seconds of each layer not covered by a deeper
    layer: bench (pass loop) > driver (entry code) > catalyst (planning
    phases) > spark (jobs; its self time is the union of job intervals)."""
    by_layer = {}
    for s in spans:
        by_layer.setdefault(s["layer"], []).append(s)
    out = []
    for p in by_layer.get("pass", []):
        ps, pe = p["start"], p["end"]

        def clip(layer):
            return [(max(s["start"], ps), min(s["end"], pe)) for s in by_layer.get(layer, [])
                    if s["end"] > ps and s["start"] < pe]
        spark = clip("spark")
        cat = clip("catalyst") + spark
        drv = clip("entry") + cat
        out.append({"spark.job_busy_s": covered(spark) / 1e3,
                    "self.catalyst_s": (covered(cat) - covered(spark)) / 1e3,
                    "self.driver_s": (covered(drv) - covered(cat)) / 1e3,
                    "self.bench_s": (pe - ps - covered(drv)) / 1e3})
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warmup", type=int, help="override the workload's warm-up passes")
    a = ap.parse_args()
    # a terminated run still stops its compiler or JVM (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    entries, warmup = WORKLOADS[a.workload]
    if a.warmup is not None:
        warmup = a.warmup
    entries = list(entries)
    random.Random(a.seed).shuffle(entries)
    expected = json.loads((HERE / "expected.json").read_text())
    if not (DATA / "lineitem.parquet").exists():
        fail(f"no input tables under {DATA}")
    cp = build()
    started = time.monotonic()

    run = ROOT / ".bench_runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    (run / "tmp").mkdir(parents=True)
    try:
        (run / "expected.tsv").write_text("".join(
            f"{n}\t{expected[n]['rows']}\t{expected[n]['digest']}\n" for n in entries))
        cmd = java(run / "tmp", cp, f"data={DATA}", f"entries={','.join(entries)}",
                   f"expected={run / 'expected.tsv'}", f"out={run / 'result.json'}",
                   f"seconds={a.seconds}", f"warmup={warmup}", f"trace={a.trace}",
                   f"workload={a.workload}")
        with open(run / "jvm.log", "w") as log:
            proc = subprocess.Popen(cmd, cwd=run, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not (run / "result.json").exists():
            tail = (run / "jvm.log").read_text(errors="replace")[-4000:]
            fail(f"benchmark JVM ended with {rc}:\n{tail}")
        res = json.loads((run / "result.json").read_text())
        stored_mb = tree_bytes(run / "tmp" / "graft_staged") / 1e6
        spans = []
        if a.trace:
            spans = [json.loads(l) for l in
                     (run / "result.json.spans.jsonl").read_text().splitlines()]
            keep = ROOT / ".bench_runs" / f"trace-{a.workload}-{a.seed}.spans.jsonl"
            shutil.copyfile(run / "result.json.spans.jsonl", keep)
    finally:
        shutil.rmtree(run, ignore_errors=True)

    passes = res["passes"]
    for i, p in enumerate(passes):
        counts = (f" spark.jobs={p['spark.jobs']:.0f} spark.tasks={p['spark.tasks']:.0f}"
                  if p["traced"] else "")
        print(f"pass {i:2d} {p['kind']:6s} traced={int(p['traced'])} "
              f"wall_s={p['wall_s']:.3f} jvm.cpu_s={p['jvm.cpu_s']:.2f} "
              f"host.steal_share={p['host.steal_share']:.3f}{counts}")
    for e in res["errors"]:
        print(f"FAILED {e}")
    timed = [p for p in passes if p["kind"] == "timed"]
    walls = [p["wall_s"] for p in timed if not p["traced"]]
    attempted, failed = res["attempted"], res["failed"]
    print(f"failed_share={failed / attempted:.4f} ({failed}/{attempted} calls)")
    for n in entries:
        xs = [p["entries"][n] for p in timed]
        print(f"entry.{n}.s={statistics.median(xs):.4f}")
    print(f"host.steal_share={statistics.median(p['host.steal_share'] for p in timed):.4f} "
          f"host.load1={timed[-1]['host.load1']:.2f} host.nproc={res['cores']}")

    if not a.trace:
        q1, q3 = quartiles(walls)
        print(f"wall_s median={statistics.median(walls):.4f} q1={q1:.4f} q3={q3:.4f} "
              f"passes={len(walls)}")
        print(f"stored_mb={stored_mb:.3f}")
        values = {"wall_s": statistics.median(walls), "setup_s": res["setup_s"]}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    else:
        traced = [dict(p) for p in timed if p["traced"]]
        for p, st in zip(traced, self_times(spans)[-len(traced):]):
            p.update(st)
        overhead = statistics.median(p["wall_s"] for p in traced) - statistics.median(walls)
        cold = passes[0]
        for p in traced:
            p["spark.tasks_per_job"] = p["spark.tasks"] / max(p["spark.jobs"], 1)
            p["spark.util"] = p["spark.task_run_s"] / (p["wall_s"] * res["cores"])
            p["driver.gap_s"] = p["wall_s"] - p["spark.job_busy_s"]
            p["jvm.driver_cpu_s"] = p["jvm.cpu_s"] - p["spark.task_cpu_s"]
            p["host.nproc"] = res["cores"]
            p["stored_mb"] = stored_mb
            p["trace.overhead_s"] = overhead
            for k in ("write_s", "written_mb", "versions"):
                p[f"staged.setup_{k}"] = cold[f"staged.{k}"]
        values = {n: statistics.median(p[n] for p in traced) for n, _ in PER_LAYER}
        print(f"{'layer':10s} {'self_s':>9s}  (median per traced pass, {a.workload})")
        for layer, key in (("bench", "self.bench_s"), ("driver", "self.driver_s"),
                           ("catalyst", "self.catalyst_s"), ("spark", "spark.job_busy_s")):
            print(f"{layer:10s} {values[key]:9.4f}")
        print(f"tracing overhead: traced wall_s - untraced wall_s = "
              f"{values['trace.overhead_s']:+.4f} s")
        metrics = {n: {"value": values[n], "unit": u} for n, u in PER_LAYER}
    for n, m in metrics.items():
        print(f"{n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
