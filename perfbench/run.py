#!/usr/bin/env python3
"""graft benchmark: builds the engine from source, generates the fixtures,
runs one workload in a fresh JVM and checks its outputs.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --smoke        # all workloads, one pass, sf0.001

Workloads: inventory_sf0.01, txtable_rw (see BENCHMARK.md). Untraced,
txtable_rw's cold pass is also run alone in one more fresh JVM, and
cold_wall_s is the faster of the two.
Stdout: every metric as "name value unit" lines, then one JSON line
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are BENCHMARK.json's end_to_end ones, with --trace 1 its per_layer ones.
Full results (stamp, per-op times, every metric) and, traced, the span
trace go to .bench_build/results/.
"""
import argparse
import json
import os
import subprocess
import sys
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
FIXTURES = os.path.join(WORK, "fixtures")
# fixture scale each workload reads
WORKLOADS = {"inventory_sf0.01": "sf0.01", "txtable_rw": "sf0.1"}
CPUS = 4  # local[CPUS], refused on a machine with fewer cores
# fresh JVMs whose cold pass cold_wall_s takes the fastest of: txtable_rw's
# cold block is short and its single samples spread widely between runs;
# the inventory spends the time on warm passes instead
COLD_JVMS = {"inventory_sf0.01": 1, "txtable_rw": 2}
HEAP = "3g"
RUN_TIMEOUT_S = 170  # every JVM of one run together
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def fixture(sf):
    """Generates `sf` once per checkout."""
    path = os.path.join(FIXTURES, sf)
    if not os.path.isdir(path):
        os.makedirs(FIXTURES, exist_ok=True)
        subprocess.run([sys.executable, os.path.join(HERE, "fixtures.py"), path,
                        sf[2:]], check=True)
    return path


def fixture_stamp(path):
    import pyarrow.parquet as pq
    out = {}
    for f in sorted(os.listdir(path)):
        p = os.path.join(path, f)
        out[f[:-len(".parquet")]] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                                     "bytes": os.path.getsize(p)}
    return out


def steal_s():
    """Host CPU steal so far (all CPUs), from /proc/stat; stamped per run
    because this VM's neighbours take CPU in bursts."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def jvm(classes, args, log, timeout=RUN_TIMEOUT_S):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", "-cp", f"{classes}:{jars}", "graftbench.Main"] + args)
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=timeout, cwd=WORK)
        except subprocess.TimeoutExpired:
            fail(f"JVM timed out after {timeout:.0f}s; log: {log}")
    if r.returncode != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-3000:])
        fail(f"JVM exited with {r.returncode}; log: {log}")


def expected(sf):
    p = os.path.join(HERE, "expected", f"{sf}.json")
    if not os.path.exists(p):
        fail(f"no expected digests for {sf} ({p})")
    with open(p) as f:
        return json.load(f)


def judge(res, sf):
    """(attempted, failed, notes): an operation fails when it threw or when
    its query's output digest differs from the recorded one."""
    ops = res["ops"]
    failed = len(res["errors"])
    notes = list(res["errors"])
    if "digests" in res:
        want = expected(sf)
        for q, got in res["digests"].items():
            w = want.get(q, {}).get("digest")
            if got != w:
                n = sum(1 for o in ops if o[0] == q)
                failed += n
                notes.append(f"{q}: digest {got} != expected {w}")
    else:
        failed += res.get("check_failures", 0)
        notes += [f"txtable version {v}: replay mismatch"
                  for v, ok in res.get("checks", []) if not ok]
    return len(ops), min(failed, len(ops)), notes


def run_workload(a, classes, workload, smoke):
    sf = "sf0.001" if smoke else WORKLOADS[workload]
    fixture(sf)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tag = f"{workload}-seed{a.seed}-trace{a.trace}" + ("-smoke" if smoke else "")
    steal0 = steal_s()
    deadline = time.monotonic() + RUN_TIMEOUT_S

    def launch(name, cold_only):
        out = os.path.join(WORK, "results", name + ".json")
        if os.path.exists(out):
            os.remove(out)
        jvm(classes, ["--workload", workload, "--seed", str(a.seed), "--seconds",
                      str(a.seconds), "--trace", str(a.trace), "--fixtures", FIXTURES,
                      "--cpus", str(CPUS), "--smoke", "1" if smoke else "0",
                      "--cold-only", "1" if cold_only else "0",
                      "--out", out, "--work", WORK],
            os.path.join(WORK, "results", name + ".log"),
            timeout=max(deadline - time.monotonic(), 1))
        with open(out) as f:
            res = json.load(f)
        return out, res

    out, res = launch(tag, cold_only=False)
    attempted, failed, notes = judge(res, sf)
    # the traced run needs no cold samples: its metrics come from one JVM
    colds = [launch(f"{tag}-cold{k}", cold_only=True)[1]
             for k in range(1, 1 if a.trace else COLD_JVMS[workload])]
    for c in colds:
        n, f, cn = judge(c, sf)
        attempted, failed, notes = attempted + n, failed + f, notes + cn
    cold_walls = [r["end_to_end"]["cold_wall_s"] for r in [res] + colds]
    res["end_to_end"]["cold_wall_s"] = min(cold_walls)
    res["cold_walls_s"] = cold_walls
    res["cold_runs"] = [{k: c[k] for k in ("setups", "passes", "ops", "errors", "checks")
                         if k in c} for c in colds]
    res["failed_ratio"] = failed / attempted
    res["stamp"]["fixtures"] = {sf: fixture_stamp(os.path.join(FIXTURES, sf))}
    res["stamp"]["host_steal_s"] = steal_s() - steal0
    res["attempted"], res["failed"], res["notes"] = attempted, failed, notes
    with open(out, "w") as f:
        json.dump(res, f, indent=1)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required (or --smoke)")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src; run from a graft checkout")
    nproc = len(os.sched_getaffinity(0))
    if CPUS > nproc:
        fail(f"refusing to run local[{CPUS}] with nproc={nproc}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build(ROOT, WORK)

    if a.smoke:
        ok = True
        for w in WORKLOADS:
            r = run_workload(a, classes, w, smoke=True)
            print(f"smoke {w}: attempted={r['attempted']} failed={r['failed']}"
                  + "".join(f"\n  {n}" for n in r["notes"]))
            ok &= r["failed"] == 0
        sys.exit(0 if ok else 1)

    r = run_workload(a, classes, a.workload, smoke=False)
    e2e = dict(r["end_to_end"], failed_ratio=r["failed_ratio"])
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in sorted(e2e.items()):
        print(f"{k} {v:.6g} {units.get(k, 's' if k.endswith('_s') else 'ms' if k.endswith('_ms') else '1')}")
    for k, v in sorted(r["per_layer"].items()):
        print(f"{k} {v:.6g} {units.get(k, '')}".rstrip())
    for n in r["notes"]:
        print(f"check: {n}")
    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = r["per_layer"] if a.trace else e2e
    print(json.dumps({
        "correct": r["failed"] == 0, "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in want}}))


if __name__ == "__main__":
    main()
