#!/usr/bin/env python3
"""Rebuild the golden result fingerprints and cross-check them with DuckDB.

    python3 perfbench/golden.py [--sf 0.01]

Runs every olap_read and curation query once on the generated inputs and
writes `perfbench/golden/sf<sf>.tsv` (query, row count, order-independent
row hash), which the benchmark compares every result against. The same
queries are then dumped with `graft.Verify` and checked once with the
repository's `scripts/check.py`, which runs `SparkEntry.oracleSql` in DuckDB
over the same parquet tables; its report is written next to the golden file.
Run it only on a commit whose results are known good: it defines what
"correct" means.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

import run as bench


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=bench.DEFAULT_SF)
    a = ap.parse_args()
    classes = bench.build()
    datadir = bench.data(a.sf)
    scratch = os.path.join(bench.BUILD, "golden-run")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    dump = os.path.join(scratch, "dump")
    golden = os.path.join(bench.HERE, "golden", f"sf{a.sf}.tsv")
    try:
        bench.run_jvm(classes, ["--mode", "golden", "--workload", "golden", "--data", datadir,
                                "--root", scratch, "--out", dump, "--golden", golden,
                                "--cores", str(bench.cores())],
                      scratch, time.time() + 880)
        with open(golden) as f:
            names = [line.split("\t")[0] for line in f if line.strip()]
        bench.run_jvm(classes, [datadir, dump, ",".join(names)], scratch, time.time() + 880,
                      main="graft.Verify")
        check = subprocess.run([sys.executable, os.path.join(bench.ROOT, "scripts", "check.py"),
                                datadir, dump], capture_output=True, text=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(os.path.join(bench.HERE, "golden", f"sf{a.sf}.oracle.txt"), "w") as f:
        f.write(check.stdout)
    print(check.stdout, end="")
    return check.returncode


if __name__ == "__main__":
    sys.exit(main())
