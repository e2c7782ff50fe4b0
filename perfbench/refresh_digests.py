#!/usr/bin/env python3
"""Regenerate perfbench's expected registry digests, verified against DuckDB.

    python3 perfbench/refresh_digests.py

For each data set the registry workload reads (sf0.01; sf0.001 for smoke
runs) this:
  1. drains each subset query once with the harness's digest;
  2. dumps the same queries' outputs with graft.Verify and compares them
     with the DuckDB oracle using tools/check_oracle.py;
  3. writes all digests to src/main/resources/perfbench/digests.json,
     but only when every subset query passed on every data set.
Run it from the root of a checkout after a change that alters a subset
query's output.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (shares the build and the JVM command line)

SETS = ["sf0.01", "sf0.001"]
OUT = os.path.join(run.HERE, "src", "main", "resources", "perfbench", "digests.json")


def java(main_class, args):
    with open(run.CLASSPATH_FILE) as fh:
        classpath = fh.read().strip()
    cmd = ["java", "-Xmx4g", f"-Djava.io.tmpdir={os.path.join(run.BUILD, 'work')}"]
    for p in run.JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return subprocess.run(cmd + ["-cp", classpath, main_class] + args, cwd=run.ROOT,
                          stdout=subprocess.PIPE, text=True, check=True).stdout


def main():
    run.build()
    os.makedirs(os.path.join(run.BUILD, "work"), exist_ok=True)
    digests = {}
    for sf in SETS:
        data = os.path.join(run.data_dir(), sf)
        work = os.path.join(run.BUILD, "work", f"digests-{sf}")
        out = java("perfbench.Main", ["--print-digests", "--data", run.data_dir(), "--work", work,
                                      "--smoke", "1" if sf == "sf0.001" else "0"])
        digests[sf] = json.loads(out.strip().splitlines()[-1])
        names = sorted(digests[sf])
        dump = os.path.join(run.BUILD, "verify", sf)
        java("graft.Verify", [data, dump, ",".join(names)])
        # compare only the subset, each query once
        oracle_file = os.path.join(dump, "oracle_sql.json")
        with open(oracle_file) as fh:
            oracles = json.load(fh)
        with open(oracle_file, "w") as fh:
            json.dump({n: oracles[n] for n in names}, fh)
        report = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                                 data, dump], stdout=subprocess.PIPE, text=True, check=True).stdout
        passed = {line.split()[1].rstrip(":") for line in report.splitlines()
                  if line.startswith("PASS ")}
        missing = [n for n in names if n not in passed]
        if missing:
            raise SystemExit(f"{sf}: not oracle-verified: {missing}\n{report}")
        print(f"{sf}: all {len(names)} subset queries oracle-verified")
    with open(OUT, "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
