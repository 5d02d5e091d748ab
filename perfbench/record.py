#!/usr/bin/env python3
"""Records the expected output digests the benchmark checks against.

For each fixture scale it dumps the output of every inventory query (the
graft.Verify layout), runs tools/check_oracle.py on the dump, and writes
perfbench/expected/<sf>.json. A query the DuckDB oracle passes is
recorded as "duckdb"; a rows-only query (no oracle SQL), or one whose
oracle cannot finish within the time limit, as "self" (self-consistency
with the current code). A query the oracle fails is not recorded, and
the script exits non-zero.

Usage: python3 perfbench/record.py [sf ...]   (default: sf0.01 sf0.001)
"""
import json
import os
import subprocess
import sys

import build
import run

# fixture scales of the query workload and its smoke run
SCALES = ["sf0.01", "sf0.001"]
ORACLE_TIMEOUT_S = 600


def oracle(fixture, dump, q):
    env = dict(os.environ, GRAFT_ORACLE_TMP=os.path.join(run.WORK, "duckdb-spill"))
    try:
        r = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                            fixture, dump, q], stdout=subprocess.PIPE, env=env,
                           stderr=subprocess.STDOUT, text=True, timeout=ORACLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return "self", "oracle did not finish"
    line = next((ln for ln in r.stdout.splitlines() if ln.startswith(("PASS", "FAIL"))), "")
    if line.startswith("PASS") and line.endswith(": OK"):
        return "duckdb", ""
    if line.startswith("PASS"):
        return "self", line.split(": ", 1)[-1]
    return None, line or r.stdout[-500:]


def main():
    classes = build.build(run.ROOT, run.WORK)
    ok = True
    for sf in sys.argv[1:] or SCALES:
        fixture = run.fixture(sf)
        dump = os.path.join(run.WORK, "dump", sf)
        run.jvm(classes, ["--workload", "dump", "--seed", "0",
                          "--seconds", "0", "--trace", "0", "--fixtures", fixture,
                          "--cpus", str(run.CPUS), "--out", dump, "--work", run.WORK],
                os.path.join(run.WORK, f"dump-{sf}.log"))
        with open(os.path.join(dump, "digests.json")) as f:
            digests = json.load(f)
        rec = {}
        for q in sorted(digests):
            check, note = oracle(fixture, dump, q)
            print(f"{sf} {q}: {check or 'FAIL'} {note}".rstrip())
            if check is None:
                ok = False
                continue
            rec[q] = {"digest": digests[q], "check": check}
        os.makedirs(os.path.join(run.HERE, "expected"), exist_ok=True)
        with open(os.path.join(run.HERE, "expected", f"{sf}.json"), "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
