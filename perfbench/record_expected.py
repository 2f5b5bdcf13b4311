#!/usr/bin/env python3
"""Re-records expected/sf0.01.tsv, the query outputs the benchmark checks.

    python3 perfbench/record_expected.py

Run from the repository root. Three steps, all over perfbench/data/sf0.01:
  1. graft.Verify writes every benchmarked query's result as parquet;
  2. tools/compare.py checks each result against its DuckDB oracle SQL;
  3. only if every oracle agrees, perfbench.Main records each query's row
     count and content hash into expected/sf0.01.tsv.
Re-record when a change legitimately alters a query's output, and say so.
"""

import os
import shutil
import subprocess
import sys

import run

OPS = sorted(run.ITERATIVE_MIX)


def main():
    classpath = run.build()
    work = os.path.join(run.BUILD, "work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    verify_out = os.path.join(work, "verify")
    run.java("graft.Verify", [run.DATA, verify_out, ",".join(OPS)], work, 1800, classpath)
    compare = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "compare.py"),
                              run.DATA, verify_out] + OPS)
    if compare.returncode != 0:
        raise SystemExit("perfbench: an oracle disagrees; expected outputs not recorded")
    tsv = os.path.join(work, "expected.tsv")
    run.java("perfbench.Main", ["--workload", "iterative_mix", "--order", ",".join(OPS),
                                "--data", run.DATA, "--work", work, "--out", f"{work}/raw.json",
                                "--record", tsv, "--setups", "1"], work, 1800, classpath)
    with open(tsv) as f:
        rows = f.read()
    if len(rows.strip().splitlines()) != len(OPS):
        raise SystemExit("perfbench: some query failed while recording")
    with open(run.EXPECTED, "w") as f:
        f.write("# query\trows\thash -- written by record_expected.py from an "
                "oracle-checked run over data/sf0.01\n" + rows)
    shutil.rmtree(work, ignore_errors=True)
    print(f"recorded {len(OPS)} queries into {os.path.relpath(run.EXPECTED)}")


if __name__ == "__main__":
    main()
