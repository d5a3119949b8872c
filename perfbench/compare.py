#!/usr/bin/env python3
"""Record sets of benchmark runs, and compare two sets.

Record runs (one JSON line per run: workload, seed and the runner's result):

    python3 perfbench/compare.py record runs_a.jsonl --workloads aqp_live,dedup_pipeline \\
        --seeds 1-10 [--trace 1]

Compare a baseline set A with a candidate set B, per workload and metric:

    python3 perfbench/compare.py diff runs_a.jsonl runs_b.jsonl

For each metric it prints both sides' median and quartiles, the share of
seed-matched pairs that B wins (ties count for neither), and a verdict
against the bound in BENCHMARK.json:

  worse       B's median is worse than A's by more than the bound
  better      B wins at least 9/10 of the pairs and the medians differ by
              more than A's own quartile spread
  within      neither, and A's spread is within the bound
  unresolved  A's quartile spread is wider than the bound (unless every run
              of B reads better than every run of A)
  -           per-layer metric: no bound, figures only
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_runs(path):
    """{(workload, metric): {seed: value}} and units, from a runs file."""
    values, units = {}, {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            for name, m in rec["result"]["metrics"].items():
                values.setdefault((rec["workload"], name), {})[rec["seed"]] = m["value"]
                units[name] = m["unit"]
    return values, units


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(a, b, better, bound):
    """Classify candidate runs `b` against baseline runs `a`, both {seed:
    value}. `better` is "lower" or "higher"; `bound` the allowed relative
    worsening, or None for a metric without one. Returns (verdict, pair win
    share, number of pairs)."""
    sign = 1 if better == "higher" else -1
    pairs = [(a[s], b[s]) for s in a if s in b]
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    share = wins / len(pairs) if pairs else float("nan")
    if bound is None:
        return "-", share, len(pairs)
    qa1, ma, qa3 = quartiles(list(a.values()))
    _, mb, _ = quartiles(list(b.values()))
    base = abs(ma) if ma else 1.0
    worse_by = sign * (ma - mb) / base
    spread = (qa3 - qa1) / base
    all_better = all(sign * (y - x) > 0 for x in a.values() for y in b.values())
    if worse_by > bound:
        return "worse", share, len(pairs)
    if share >= 0.9 and abs(mb - ma) / base > spread and sign * (mb - ma) > 0:
        return "better", share, len(pairs)
    if spread > bound and not all_better:
        return "unresolved", share, len(pairs)
    return "within", share, len(pairs)


def diff(path_a, path_b, bench_path):
    with open(bench_path) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    va, units = load_runs(path_a)
    vb, _ = load_runs(path_b)
    print(f"{'workload':16} {'metric':32} {'unit':6} {'A q1/med/q3':>30} "
          f"{'B q1/med/q3':>30} {'B wins':>9} verdict")
    for key in sorted(set(va) & set(vb)):
        workload, name = key
        m = spec.get(name, {"better": "lower"})
        v, share, n = verdict(va[key], vb[key], m["better"], m.get("bound"))
        qa = "/".join(f"{x:.4g}" for x in quartiles(list(va[key].values())))
        qb = "/".join(f"{x:.4g}" for x in quartiles(list(vb[key].values())))
        print(f"{workload:16} {name:32} {units[name]:6} {qa:>30} {qb:>30} "
              f"{share:6.2f}/{n:<2} {v}")


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def record(out, workloads, seeds, trace):
    with open(out, "a") as f:
        for seed in seeds:
            for w in workloads:
                p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                    "--workload", w, "--seed", str(seed),
                                    "--seconds", str(seconds()), "--trace", str(trace)],
                                   capture_output=True, text=True, cwd=ROOT)
                if p.returncode != 0:
                    sys.stderr.write(p.stderr[-2000:])
                    raise SystemExit(f"run failed: {w} seed {seed}")
                result = json.loads(p.stdout.strip().splitlines()[-1])
                f.write(json.dumps({"workload": w, "seed": seed, "result": result}) + "\n")
                f.flush()
                print(f"{w} seed {seed}: failed {result['failed']}/{result['attempted']}")


def seconds():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def main():
    ap = argparse.ArgumentParser(description="record and compare benchmark runs")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("out")
    r.add_argument("--workloads", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    r.add_argument("--trace", type=int, default=0, choices=(0, 1))
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    d.add_argument("--bench", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args()
    if args.cmd == "record":
        record(args.out, args.workloads.split(","), seeds_of(args.seeds), args.trace)
    else:
        diff(args.a, args.b, args.bench)


if __name__ == "__main__":
    main()
