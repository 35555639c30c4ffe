#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload journey --seed 1 --seconds 15 --trace 0

Builds the program from source on first use (perfbench/build.py), runs
the workload in one JVM at local[nproc], prints every metric by name
with its unit and every output check, and prints as its last line the
JSON result: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Findings, the outcomes of known program defects, are printed
too but do not fail the run. The full result, with spans and self times
when traced, is kept in .bench_build/results/. Exit code 0 only when
every check passed.
"""
import argparse
import json
import os
import pathlib
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing into the benchmark's own directory
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 170
# JDK 17 module openings Spark needs outside spark-submit
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_workload(workload, seed, seconds, trace):
    """Run the JVM harness; return its full result document."""
    classes = build.build()
    results = build.OUT / "results"
    results.mkdir(parents=True, exist_ok=True)
    out = results / f"{workload}-seed{seed}-trace{trace}.json"
    if out.exists():
        out.unlink()
    tmp = build.OUT / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}", "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", str(build.OUT / "work" / workload),
            "--out", str(out)]
    proc = subprocess.Popen(cmd, cwd=build.OUT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {workload} did not finish within {TIMEOUT_S} s")
    if not out.is_file():
        raise SystemExit(f"perfbench: {workload} exited {proc.returncode} without a result")
    return json.loads(out.read_text())


def main():
    names = [w["name"] for w in spec()["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    build.OUT.mkdir(exist_ok=True)
    res = run_workload(a.workload, a.seed, a.seconds, a.trace)

    for k, m in res["named"].items():
        print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']} (samples {m['samples']})")
    for c in res["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']} {c['detail']}".rstrip())
    # known program defects: printed on every run, not counted as failures
    for c in res["findings"]:
        print(f"finding {'ok  ' if c['ok'] else 'FAIL'} {c['name']} {c['detail']}".rstrip())
    if a.trace:
        print(f"trace layer-span coverage of the timed pass = {res['coverage']:.4f}")
        for k in sorted(res["layers"]):
            print(f"layer {k} = {res['layers'][k]:.6g}")
        for k, v in sorted(res["self_ms"].items(), key=lambda kv: -kv[1]):
            print(f"self_ms {k} = {v:.1f}")

    s = spec()
    if a.trace:
        wanted = [(m["name"], m["unit"]) for m in s["per_layer"]]
        # a layer the workload never calls reads 0
        values = {n: res["layers"].get(n, 0.0) for n, _ in wanted}
    else:
        wanted = [(m["name"], m["unit"]) for m in s["end_to_end"]]
        values = {n: res["e2e"][n]["value"] for n, _ in wanted if n in res["e2e"]}
    ok = (res["failed"] == 0 and all(c["ok"] for c in res["checks"])
          and len(values) == len(wanted))
    print(json.dumps({"correct": ok, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": {n: {"value": values[n], "unit": u} for n, u in wanted
                                  if n in values}}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
