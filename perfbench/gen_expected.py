#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: each benchmark entry's row count and
order-insensitive content digest over the benchmark's input tables.

    python3 perfbench/gen_expected.py

Every entry that SparkEntry.oracleSql covers is also cross-checked against
DuckDB with tools/check_oracle.py (run read-only, as a subprocess); the
file is written only if every covered entry matches its oracle.
"""
import json
import shutil
import subprocess
import sys

import run


def main():
    entries = sorted({e for es, _ in run.WORKLOADS.values() for e in es})
    cp = run.build()
    work = run.ROOT / ".bench_runs" / "expected"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        out = subprocess.run(
            run.java(work / "tmp", cp, "mode=expect", f"data={run.DATA}",
                     f"entries={','.join(entries)}", f"dump={work / 'dump'}"),
            cwd=work, stdout=subprocess.PIPE, text=True, check=True).stdout
        got = {}
        for line in out.splitlines():
            if line.startswith("EXPECT\t"):
                _, name, rows, digest = line.split("\t")
                got[name] = {"rows": int(rows), "digest": digest}
        missing = set(entries) - set(got)
        if missing:
            sys.exit(f"no result for {sorted(missing)}")
        oracle = subprocess.run(
            [sys.executable, str(run.ROOT / "tools" / "check_oracle.py"), str(run.DATA),
             str(work / "dump")], stdout=subprocess.PIPE, text=True)
        print(oracle.stdout)
        if oracle.returncode != 0:
            sys.exit("an entry disagrees with its DuckDB oracle; expected.json not written")
        covered = set(json.loads((work / "dump" / "oracle_sql.json").read_text()))
        for name in got:
            got[name]["oracle_checked"] = name in covered
    finally:
        shutil.rmtree(work, ignore_errors=True)
    (run.HERE / "expected.json").write_text(json.dumps(got, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(got)} entries ({sum(v['oracle_checked'] for v in got.values())} "
          f"cross-checked against DuckDB)")


if __name__ == "__main__":
    main()
