#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload aqp_live --seed 1 --seconds 14 --trace 0

Builds the harness and the engine from source on first use (sbt, offline),
then runs the workload in one JVM and prints one JSON result as the last
line of stdout: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Exits non-zero without a result if the build, the run or its
own bookkeeping fails; failed output checks are reported in the result.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("aqp_live", "dedup_pipeline")
WORK = os.path.join(HERE, ".work")
BUILD_DIR = os.path.join(WORK, "build")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(timeout):
    """Compile harness and engine; return (runtime classpath, source stamp)."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    log("building harness and engine (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    out_path = os.path.join(BUILD_DIR, "sbt.log")
    with open(out_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       timeout, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, env=env)
    with open(out_path) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: sbt build failed (exit {rc})")
    cps = [ln for ln in lines if ln.startswith("/") and "perfbench" in ln and ":" in ln]
    if not cps:
        raise SystemExit("perfbench: sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip(), stamp


def median(xs):
    return stats.percentile(xs, 50)


def kind_mean(series, name):
    """Mean over operation kinds of each kind's median latency: every kind
    (query template, pipeline) weighs the same however often it ran."""
    kinds = [median(v) for k, v in series.items() if k.startswith(name + "|") and v]
    return sum(kinds) / len(kinds) if kinds else None


def end_to_end(res):
    s = res["series"]
    v = res["values"]
    op, side = kind_mean(s, "op_ms"), kind_mean(s, "side_ms")
    if op is None or side is None:
        raise SystemExit("perfbench: the window completed no operations")
    print(f"perfbench: {len(s['op_ms'])} foreground and {len(s['side_ms'])} side operations")
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "op_ms": (op, "ms"),
        "side_ms": (side, "ms"),
        "accuracy": (v["accuracy"], "share"),
        "stored_per_input": (v["stored_per_input"], "B/B"),
    }


def per_layer(res, spans):
    """Per-layer metrics of a traced run (0 for layers the workload does
    not reach)."""
    v = res["values"]
    s = res["series"]
    t0, t1 = v["window_start_ns"], v["window_end_ns"]
    selfs = stats.self_times(spans)
    window = [sp for sp in spans if sp["start_ns"] >= t0]
    ops = {sp["op"] for sp in window}
    out = {}

    def med(xs):
        return median(xs) if xs else 0.0

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def per_op_self_ms(name, op_prefix=""):
        acc = {}
        for sp in window:
            if sp["name"] == name and sp["op"].startswith(op_prefix):
                acc[sp["op"]] = acc.get(sp["op"], 0) + selfs[sp["id"]] / 1e6
        return med(list(acc.values()))

    def counters(name, key):
        return [sp["counters"].get(key, 0.0) for sp in window if sp["name"] == name]

    for name in ("AqpParser.parse", "catalyst.analyze", "catalyst.optimize",
                 "catalyst.plan", "AqpRewrite.rewrite", "text.filter",
                 "pipeline.chunk", "dedup.exact", "dedup.jaccard", "dedup.cc",
                 "ann.cosine_dedup", "store.read_snapshot", "topk.query"):
        out[f"{name}_ms"] = (per_op_self_ms(name), "ms")
    out["store.append_ms"] = (per_op_self_ms("store.append", "batch-"), "ms")
    out["topk.append_ms"] = (per_op_self_ms("topk.append", "batch-"), "ms")
    out["store.append_jobs"] = (mean([sp["counters"].get("jobs", 0.0) for sp in window
                                      if sp["name"] == "store.append"
                                      and sp["op"].startswith("batch-")]), "count")

    queries = [sp for sp in window if sp["name"] == "query"]
    fam = {f: sum(1 for q in queries if q["counters"].get(f"family.{f}"))
           for f in ("closedform", "bootstrap", "bypass", "exact")}
    for f, n in fam.items():
        out[f"AqpRewrite.family.{f}"] = (float(n), "count")
    approx = [q for q in queries if q["tag"] != "exact"
              and any(k.startswith("family.") for k in q["counters"])]
    out["AqpRewrite.routed_share"] = (
        mean([0.0 if q["counters"].get("family.exact") else 1.0 for q in approx]), "share")
    for cls in ("closedform", "bootstrap", "join", "rollup", "local_omit",
                "hac_partial", "hac_full", "exact", "live"):
        out[f"class.{cls}.ms"] = (
            med([(q["end_ns"] - q["start_ns"]) / 1e6 for q in queries if q["tag"] == cls]), "ms")

    for k in ("exchanges", "scans", "bhj", "smj", "sorts", "hac_nodes"):
        out[f"plan.{k}"] = (mean(counters("exec", f"plan.{k}")), "count")

    n_ops = max(1, len(ops))
    job_ms = {}
    for sp in window:
        if sp["counters"].get("jobs"):
            job_ms[sp["op"]] = job_ms.get(sp["op"], 0) + selfs[sp["id"]] / 1e6
    out["exec.ms"] = (med(list(job_ms.values())), "ms")
    units = {"jobs": "count", "stages": "count", "tasks": "count", "task_run_ms": "ms",
             "scheduler_delay_ms": "ms", "scan_bytes": "bytes",
             "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
             "spill_bytes": "bytes", "gc_ms": "ms"}
    for k, unit in units.items():
        total = sum(sp["counters"].get(k, 0.0) for sp in window)
        out[f"exec.{k}"] = (total / n_ops, unit)
    busy = sum(sp["counters"].get("task_run_ms", 0.0) for sp in window)
    out["exec.core_busy_share"] = (busy / ((t1 - t0) / 1e6 * v["cores"]), "share")

    out["HacExec.rerouted_group_share"] = (mean(s.get("hac_rerouted_share", [])), "share")
    out["HacExec.omitted_share"] = (mean(s.get("hac_omitted_share", [])), "share")
    builds = [sp for sp in spans if sp["name"] == "StratifiedSampler.build"]
    out["StratifiedSampler.build_ms"] = (
        med([(b["end_ns"] - b["start_ns"]) / 1e6 for b in builds]), "ms")
    kept = v.get("StratifiedSampler.kept_ratio")
    if kept is None and builds and builds[-1]["counters"].get("base_rows"):
        kept = builds[-1]["counters"]["kept_rows"] / builds[-1]["counters"]["base_rows"]
    out["StratifiedSampler.kept_ratio"] = (kept or 0.0, "share")
    for k, unit in (("store.files", "count"), ("store.bytes", "bytes"),
                    ("store.fenced_replay_share", "share"),
                    ("topk.snapshot_bytes", "bytes")):
        out[k] = (v.get(k, 0.0), unit)

    cands = v.get("dedup.candidates", 0.0)
    verified = mean(counters("dedup.jaccard", "verified_pairs"))
    out["dedup.candidates"] = (cands, "count")
    out["dedup.verified_pairs"] = (verified, "count")
    out["dedup.candidate_precision"] = (verified / cands if cands else 0.0, "share")
    out["dedup.components"] = (mean(counters("dedup.cc", "components")), "count")
    out["ann.pairs"] = (mean(counters("ann.cosine_dedup", "pairs")), "count")
    out["estimate.rel_err_p50"] = (med(s.get("rel_err", [])), "share")
    out["throughput.items_per_s"] = (v.get("items_per_s", 0.0), "1/s")
    op = s.get("op_ms", [])
    tail, level = stats.tail(op) if op else (0.0, 0.0)
    out["op.tail_ms"] = (tail, "ms")
    print(f"perfbench: op.tail_ms is p{level:.1f} of {len(op)} foreground operations")
    traced, untraced = s.get("op_ms.traced", []), s.get("op_ms.untraced", [])
    out["trace.overhead_ms"] = (med(traced) - med(untraced) if traced and untraced else 0.0, "ms")
    print(f"perfbench: tracing overhead {out['trace.overhead_ms'][0]:.3f} ms: foreground median "
          f"of {len(traced)} traced minus {len(untraced)} untraced operations")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    engine = os.path.join(ROOT, "src", "main", "scala", "graft", "GraftSession.scala")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isfile(engine)):
        log("no engine sources next to the benchmark (build.sbt, src/main/scala); "
            "run it from a checkout of the repository")
        return 2

    built_before = os.path.exists(os.path.join(BUILD_DIR, "classpath"))
    cp, stamp = build(timeout=780)
    budget = (170 if built_before else 880) - (time.time() - started)

    run_dir = os.path.join(WORK, "run")
    os.makedirs(run_dir, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # keep the JVM's temporary files inside the checkout
           + ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", WORK,
              # generated inputs are cached per seed, for this build's generators
              "--data", os.path.join(WORK, "data", stamp[:16]), "--out", out])
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as lf:
        try:
            rc = run_group(cmd, max(30, budget), cwd=run_dir, stdout=lf,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        log(f"workload run failed ({rc})")
        return 1
    with open(out) as f:
        res = json.load(f)
    for msg in res["failures"]:
        log(f"check failed: {msg}")
    if args.trace:
        with open(os.path.join(run_dir, res["spans"])) as f:
            spans = [json.loads(ln) for ln in f]
        metrics = per_layer(res, spans)
    else:
        metrics = end_to_end(res)
    for name, (value, unit) in metrics.items():
        print(f"perfbench: {args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": val, "unit": u} for k, (val, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
