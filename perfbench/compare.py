#!/usr/bin/env python3
"""Compare two result sets of the benchmark.

    # alternate the two checkouts, ten pairs on one workload
    python3 perfbench/compare.py run --base ../parent --head . --workload fleet \
        --out .bench_build/compare
    # one row per workload and metric
    python3 perfbench/compare.py report .bench_build/compare/base .bench_build/compare/head
    # tracing overhead: traced minus untraced pass wall, per workload and seed
    python3 perfbench/compare.py overhead .bench_build/results

`run` runs ten pairs at BENCHMARK.json's run_seconds, pair i with seed
i + 1, the base first on even pairs and the head first on odd ones, and
keeps each run's full result.
`report` pairs the two sets by (workload, seed) and, for every end-to-end
metric of BENCHMARK.json and every named metric the runs report, prints
each side's median and quartiles, the head's wins and ties, and a verdict:

  gain        at least ten pairs, the head wins at least 9 of every 10
              (ties count for neither side), and the medians differ by more
              than the base's own quartile spread
  worse       the head's median is worse than the base's by more than the
              metric's bound
  unresolved  the quartile spread of either side is wider than the bound,
              unless every head run reads better than every base run
  same        none of the above

Named metrics have no bound in BENCHMARK.json; they are judged against
the largest end-to-end bound, lower being better except for F1.
Tails (tick_tail_ms) are pooled over every run of a side.
"""
import argparse
import json
import pathlib
import shutil
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
# choosing-metrics section 8: ten alternating pairs, a gain at 9 wins of 10
PAIRS = 10


def run(a):
    out = pathlib.Path(a.out)
    for side in ("base", "head"):
        (out / side).mkdir(parents=True, exist_ok=True)
    for i in range(PAIRS):
        seed = i + 1
        order = [("base", a.base), ("head", a.head)]
        if i % 2:
            order.reverse()
        for side, root in order:
            root = pathlib.Path(root).resolve()
            cmd = SPEC["command"] + ["--workload", a.workload, "--seed", str(seed),
                                     "--seconds", str(SPEC["run_seconds"]), "--trace", "0"]
            res = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
            name = f"{a.workload}-seed{seed}-trace0.json"
            full = root / ".bench_build" / "results" / name
            if full.is_file():
                shutil.copy(full, out / side / name)
            print(f"pair {i} {side} exit {res.returncode}: {res.stdout.strip().splitlines()[-1:]}",
                  flush=True)


def load(d):
    """(workload, seed) -> {metric: value} for the untraced results in d."""
    runs = {}
    for p in sorted(pathlib.Path(d).glob("*.json")):
        r = json.loads(p.read_text())
        if r.get("trace"):
            continue
        vals = {k: v["value"] for k, v in r["e2e"].items()}
        vals.update({k: v["value"] for k, v in r["named"].items() if k not in vals})
        vals["correct"] = r["failed"] == 0
        vals["samples"] = r.get("samples", {})
        runs[(r["workload"], r["seed"])] = vals
    return runs


def tail(xs):
    """Highest whole percentile with at least ten samples above it."""
    s = sorted(xs)

    def q(f):
        pos = f * (len(s) - 1)
        lo = int(pos)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (pos - lo)
    for p in range(99, 0, -1):
        if sum(x > q(p / 100) for x in s) >= 10:
            return p, q(p / 100)
    return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def report(a):
    base, head = load(a.base), load(a.head)
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    widest = max(m["bound"] for m in SPEC["end_to_end"])
    pairs = sorted(set(base) & set(head))
    if not pairs:
        raise SystemExit("no (workload, seed) pairs in common")
    print(f"{'workload':<9} {'metric':<22} {'base q1/med/q3':>28} {'head q1/med/q3':>28} "
          f"{'wins':>6} {'ties':>5} verdict")
    for w in sorted({p[0] for p in pairs}):
        keys = [p for p in pairs if p[0] == w]
        if len(keys) < PAIRS:
            print(f"{w}: only {len(keys)} pairs in common, fewer than {PAIRS}: no gain verdicts")
        failed = sum(not head[k]["correct"] for k in keys) - sum(not base[k]["correct"] for k in keys)
        metrics = [m for m in list(e2e) + sorted(set(head[keys[0]]) - set(e2e))
                   if m not in ("correct", "samples")
                   and all(m in base[k] and m in head[k] for k in keys)]
        for m in metrics:
            # named metrics are times, sizes and rates, lower is better; F1 is not
            lower = e2e.get(m, {}).get("better", "higher" if m.startswith("f1") else "lower") == "lower"
            bound = e2e.get(m, {}).get("bound", widest)
            b = [base[k][m] for k in keys]
            h = [head[k][m] for k in keys]
            better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
            wins = sum(better(head[k][m], base[k][m]) for k in keys)
            ties = sum(head[k][m] == base[k][m] for k in keys)
            bq, hq = quartiles(b), quartiles(h)
            change = (hq[1] - bq[1]) / bq[1] if bq[1] else 0.0
            worse = change if lower else -change
            spread = max((bq[2] - bq[0]) / bq[1] if bq[1] else 0.0,
                         (hq[2] - hq[0]) / hq[1] if hq[1] else 0.0)
            if (len(keys) >= PAIRS and wins >= 0.9 * len(keys)
                    and abs(hq[1] - bq[1]) > bq[2] - bq[0] and failed <= 0):
                verdict = "gain"
            elif spread > bound and not all(better(x, y) for x in h for y in b):
                verdict = "unresolved"
            elif worse > bound:
                verdict = "worse"
            else:
                verdict = "same"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"{w:<9} {m:<22} {fmt(bq):>28} {fmt(hq):>28} {wins:>3}/{len(keys):<2} "
                  f"{ties:>5} {verdict} ({change:+.1%}, bound {bound:.0%})")
        # tails need more samples than one run has: pool every run of a side
        for name in sorted(base[keys[0]]["samples"]):
            tb = tail([x for k in keys for x in base[k]["samples"].get(name, [])])
            th = tail([x for k in keys for x in head[k]["samples"].get(name, [])])
            if tb and th:
                n = sum(len(head[k]["samples"].get(name, [])) for k in keys)
                print(f"{w:<9} {name.replace('_ms', '_tail_ms'):<22} "
                      f"{'p%d %.4g' % tb:>28} {'p%d %.4g' % th:>28}  pooled over {n} samples")


def overhead(a):
    rs = [json.loads(p.read_text()) for p in sorted(pathlib.Path(a.dir).glob("*.json"))]
    by = {(r["workload"], r["seed"], bool(r["trace"])): r["e2e"]["pass_s"]["value"]
          for r in rs if "pass_s" in r.get("e2e", {})}
    for (w, s, t), v in sorted(by.items()):
        if t and (w, s, False) in by:
            u = by[(w, s, False)]
            print(f"{w} seed {s}: traced {v:.2f} s - untraced {u:.2f} s = {v - u:+.2f} s "
                  f"({(v - u) / u:+.1%})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--base", required=True)
    r.add_argument("--head", required=True)
    r.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("base")
    p.add_argument("head")
    o = sub.add_parser("overhead")
    o.add_argument("dir")
    a = ap.parse_args()
    {"run": run, "report": report, "overhead": overhead}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
