#!/usr/bin/env python3
"""Cold, layered, failure-honest benchmark of the graft query catalog.

Usage (from the repository root):
  python3 perfbench/run.py --workload etl_replay --seed 1 --seconds 8 --trace 0

Builds the library and the harness (perfbench/build.py), generates the
sf0.1 tables once per checkout (perfbench/datagen.py), runs the workload's
queries in one fresh JVM (perfbench/src/perfbench/PerfBench.scala), checks every
query's untimed dump against its DuckDB twin with `tools/selfcheck.py
--exact`, and prints a summary followed by one JSON line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(see README.md). The seed only shuffles the query order. Every file the run
writes stays under the build directory ($CARGO_TARGET_DIR, else
.bench_build); the full result, and the spans of a traced run, are kept in
its results/ folder for perfbench/counterdiff.py.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import build    # noqa: E402
import datagen  # noqa: E402

# A run must end within 180 s.
JVM_TIMEOUT_S = 150

WORKLOADS = {
    # CatalogCore rows: the reference DAG's own traffic. Per-query fixed
    # cost dominates; the writes and the streaming triggers live here.
    "etl_replay": [
        "daily_lifecycle_stats", "retry_queue", "stream_daily_parity", "json_replay_roundtrip",
    ],
    # data-scaled shuffle work: execution dominates
    "curation_shuffle": ["hll_shard_merge", "decontamination_report"],
    # eager driver job chains during construction: trained quantizers, which
    # hold memos, and bounded driver tails, which hold none
    "driver_chains": ["ivf_recall", "sq8_ann_topk", "mixture_kl_drift"],
}

END_TO_END = {
    "setup_s": "s", "batch_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "warm_batch_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.build_s": "s", "session.fresh_s": "s",
    "tables.resolve_s": "s", "tables.resolve_warm_s": "s",
    "construct.s": "s", "construct.jobs": "count", "construct.result_mb": "MB",
    "warm.construct_jobs": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.aqe_updates": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_busy_s": "s", "exec.slot_util": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "scan.input_mb": "MB", "scan.input_rows": "count",
    "write.output_mb": "MB", "write.output_rows": "count",
    "stream.triggers": "count",
    "self.construct_s": "s", "self.exec_s": "s", "self.job_s": "s",
    "closure.max_residual_s": "s", "closure.violations": "count",
    "trace.batch_s": "s", "trace.overhead_s": "s", "host.calib_s": "s",
    "failed_frac": "ratio",
}
# Reported with the traced run's summary and result file, but not in the
# JSON line: each reads exactly zero on every run of a workload without a
# stream, or whose execution triggers no garbage collection.
ZERO_PRONE_TIMES = ("stream.trigger_s", "stream.state_commit_s", "exec.gc_s")

# Layer closure: construct + plan + exec must match a query's wall time to
# within this many seconds plus this share of the wall time.
CLOSURE_ABS_S = 0.05
CLOSURE_REL = 0.05


def die(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def tail_percentile(samples):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n). With ten samples or fewer no percentile has ten
    beyond it, and the maximum is reported as p100."""
    xs = sorted(samples)
    n = len(xs)
    if n > 10:
        return xs[n - 11], 100.0 * (n - 10) / n, n
    return xs[-1], 100.0, n


def fresh_dir(build_dir, name):
    path = os.path.join(build_dir, f"{name}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "local"))
    return path


def jvm_flags(run_dir):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    flags = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return flags + ["-Xms3g", "-Xmx3g", "-Xss16m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
                    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                    f"-Djava.io.tmpdir={tmp}", f"-Dgraft.scratch.dir={tmp}"]


def run_jvm(classpath, run_dir, args, timeout=JVM_TIMEOUT_S):
    log = os.path.join(run_dir, "jvm.log")
    cmd = (["java"] + jvm_flags(run_dir)
           + ["-cp", classpath, "perfbench.PerfBench"]
           + [f"{k}={v}" for k, v in args.items()])
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"harness timed out after {timeout} s (log: {log})")
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        die(f"harness exited with {code} (log: {log})")


def oracle_check(root, data_dir, dump_dir):
    """{query: None (pass) or failure text} from tools/selfcheck.py --exact."""
    done = subprocess.run([sys.executable, os.path.join(root, "tools", "selfcheck.py"),
                           data_dir, dump_dir, "--exact"],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    verdict = {}
    for line in done.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|----) (\w+)(.*)", line)
        if not m:
            continue
        kind, name, rest = m.groups()
        if kind == "PASS":
            verdict.setdefault(name, None)
        elif kind == "FAIL":
            verdict[name] = verdict.get(name) or "OracleMismatch" + rest
        else:
            verdict[name] = "NoOracle" + rest
    return verdict


def data_dir(build_dir):
    with open(datagen.__file__, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:12]
    path = os.path.join(build_dir, "data", f"sf{datagen.SF}-{datagen.SEED}-{digest}")
    if not os.path.isdir(path):
        datagen.generate(path)
    return path


def metrics(raw, failed, trace):
    """End-to-end (trace 0) or per-layer (trace 1) metrics of one run; a
    failed query's time goes into no sum, median or percentile."""
    ok = lambda q: q["ok"] and q["name"] not in failed
    if not trace:
        passes = raw["cold"]
        samples = [q["query_s"] for p in passes for q in p["queries"] if ok(q)]
        batches = [sum(q["slot_s"] for q in p["queries"] if ok(q)) for p in passes]
        tail, pct, n = tail_percentile(samples or [0.0])
        warm = [sum(q["query_s"] for q in p["queries"] if ok(q)) for p in raw["warm"]]
        out = {
            "setup_s": raw["setup"]["setup_s"],
            "batch_s": statistics.median(batches),
            "query_p50_s": statistics.median(samples or [0.0]),
            "query_tail_s": tail,
            "warm_batch_s": statistics.median(warm),
            "peak_rss_mb": raw["peak_rss_mb"],
        }
        info = {"query_tail_percentile": pct, "cold_samples": n, "cold_passes": len(passes),
                "warm_passes": len(warm)}
        return out, info
    untraced, traced = raw["cold"]
    layers = dict(traced["layers"])
    closure = []
    for q in traced["queries"]:
        if not ok(q):
            continue
        resid = q["residual_s"]
        closure.append({"name": q["name"], "query_s": q["query_s"], "construct_s": q["construct_s"],
                        "plan_s": q["plan_s"], "exec_s": q["exec_s"], "residual_s": resid,
                        "ok": abs(resid) <= CLOSURE_ABS_S + CLOSURE_REL * q["query_s"]})
    batch = lambda p: sum(q["slot_s"] for q in p["queries"] if ok(q))
    layers.update({
        "session.build_s": raw["setup"]["build_s"],
        "tables.resolve_s": raw["tables_resolve_s"],
        "tables.resolve_warm_s": raw["tables_resolve_warm_s"],
        "warm.construct_jobs": raw["warm_trace"]["construct_jobs"],
        "closure.max_residual_s": max((abs(c["residual_s"]) for c in closure), default=0.0),
        "closure.violations": sum(1 for c in closure if not c["ok"]),
        "trace.batch_s": batch(traced),
        "trace.overhead_s": batch(traced) - batch(untraced),
        "host.calib_s": statistics.median(raw["calib_s"]),
    })
    info = {"closure": closure, "closure_tolerance": f"{CLOSURE_ABS_S} s + {CLOSURE_REL:.0%} of wall",
            "zero_prone_times": {k: layers.pop(k) for k in ZERO_PRONE_TIMES}}
    return layers, info


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/selfcheck.py"):
        if not os.path.isfile(os.path.join(root, need)):
            die(f"run from the repository root: {need} is missing")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build.ensure(root, build_dir)
    data = data_dir(build_dir)

    cores = len(os.sched_getaffinity(0))

    order = list(WORKLOADS[a.workload])
    random.Random(a.seed).shuffle(order)
    run_dir = fresh_dir(build_dir, "run")
    raw_file = os.path.join(run_dir, "raw.json")
    dump = os.path.join(run_dir, "dump")
    t0 = time.monotonic()
    try:
        run_jvm(classpath, run_dir, {
            "workload": a.workload, "data": data, "cores": cores,
            "localDir": os.path.join(run_dir, "local"), "out": raw_file, "dump": dump,
            "order": ",".join(order), "seconds": a.seconds, "trace": a.trace})
        with open(raw_file) as fh:
            raw = json.load(fh)
        t1 = time.monotonic()
        verdict = oracle_check(root, data, dump)
        t2 = time.monotonic()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = {}
    for name in order:
        if name in raw["errors"]:
            failed[name] = raw["errors"][name]
        elif name not in verdict:
            failed[name] = "NotChecked: no oracle verdict"
        elif verdict[name]:
            failed[name] = verdict[name]
    values, info = metrics(raw, failed, a.trace == 1)
    units = PER_LAYER if a.trace else END_TO_END
    failed_frac = len(failed) / len(order)
    if a.trace:
        values["failed_frac"] = failed_frac

    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    spans = [s for p in raw["cold"] for s in p.pop("spans", [])]
    if spans:
        with open(stem + ".spans.jsonl", "w") as fh:
            fh.writelines(json.dumps(s) + "\n" for s in spans)
    with open(stem + ".json", "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace, "order": order,
                   "cores": cores, "failed": failed, "failed_frac": failed_frac,
                   "metrics": values, "info": info, "raw": raw}, fh, indent=1)

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} cores={cores} "
          f"queries={len(order)} failed={len(failed)} failed_frac={failed_frac:.3f}")
    for name, err in failed.items():
        print(f"  FAILED {name}: {err}")
    for k in units:
        print(f"  {k:24s} {values[k]:.6g} {units[k]}")
    if a.trace:
        for k, v in info["zero_prone_times"].items():
            print(f"  {k:24s} {v:.6g} s")
        print(f"  closure tolerance {info['closure_tolerance']}; per query "
              "(construct + plan + exec + residual = wall):")
        for c in info["closure"]:
            print(f"    {c['name']:28s} {c['construct_s']:.3f} + {c['plan_s']:.3f} + "
                  f"{c['exec_s']:.3f} + {c['residual_s']:+.3f} = {c['query_s']:.3f}"
                  f"{'' if c['ok'] else '  OUTSIDE TOLERANCE'}")
        print(f"  spans: {stem}.spans.jsonl")
    else:
        print(f"  query_tail_s is p{info['query_tail_percentile']:.1f} of "
              f"{info['cold_samples']} cold samples ({info['cold_passes']} cold passes); "
              f"warm_batch_s is the median of {info['warm_passes']} warm passes")
    print(f"  wall: jvm {t1 - t0:.1f} s (set-up {raw['setup']['setup_s']:.1f} s, "
          f"dump pass {raw['dump_s']:.1f} s), oracle check {t2 - t1:.1f} s")
    print(f"  result: {stem}.json")
    print(json.dumps({
        "correct": not failed, "attempted": len(order), "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main(sys.argv[1:])
