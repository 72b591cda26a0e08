#!/usr/bin/env python3
"""Cross-check the query_mix goldens against the DuckDB oracle twins.

    python3 perfbench/crosscheck_oracle.py [data_dir]

Run from the checkout root after one benchmark run has built the program
(it reuses .bench_build/). For every query in perfbench/golden/query_mix.json
it writes the program's output with graft.Verify, replays the query's DuckDB
oracle with tools/verify_driver_mirror.py (dtype-exact row compare), and
checks the golden row count against the output the oracle accepted. The
golden hash is taken by the benchmark from the same query plan. Exits 1 on
any mismatch. data_dir defaults to the benchmark's data set.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    root = os.getcwd()
    data = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else \
        os.path.join(HERE, "data", "sf0.001")
    with open(os.path.join(HERE, "golden", "query_mix.json")) as f:
        golden = json.load(f)
    names = sorted(golden)
    build = os.path.join(root, ".bench_build")
    with open(os.path.join(build, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(build, "jvm_options.txt")) as f:
        opts = [o for o in f.read().splitlines() if o]
    out = tempfile.mkdtemp(prefix="oracle_", dir=root)
    try:
        subprocess.run(["java", "-Xmx3g", *opts, "-Duser.timezone=UTC", "-cp", cp,
                        "graft.Verify", data, out, ",".join(names)],
                       check=True, stderr=subprocess.DEVNULL)
        mirror = subprocess.run(
            [sys.executable, os.path.join(root, "tools", "verify_driver_mirror.py"),
             data, out, ",".join(names)], capture_output=True, text=True)
        print(mirror.stdout.strip())
        passed = {line.split()[1] for line in mirror.stdout.splitlines()
                  if line.startswith("PASS ")}
        bad = 0
        for n in names:
            rows = pq.read_table(os.path.join(out, n)).num_rows
            ok = n in passed and (data != os.path.join(HERE, "data", "sf0.001")
                                  or rows == golden[n][1])
            print(f"{'OK ' if ok else 'BAD'} {n}: oracle {'pass' if n in passed else 'FAIL'}, "
                  f"rows {rows}, golden rows {golden[n][1]}")
            bad += not ok
        sys.exit(1 if bad else 0)
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
