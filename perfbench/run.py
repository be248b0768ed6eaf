#!/usr/bin/env python3
"""Project-level benchmark of the engine: builds it from source, generates a
seeded LHP project (and landing data), drives it through the engine's public
entry points in one JVM, checks the outputs independently with DuckDB, and
prints one JSON result line.

    python3 perfbench/run.py --workload medallion_full --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (one client, closed loop):

  frontend_scale        ValidateProject.validate of a 2,000-flowgroup project
  medallion_full        RunProject.execute(--full-refresh) of a medallion project
  medallion_incremental land an increment, then RunProject.execute, repeatedly

`--trace 0` reports the end-to-end metrics of BENCHMARK.json; `--trace 1`
reports the per-layer metrics, measured from outside the engine (spans
around its public calls plus Spark's public listeners).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
JVM_DEADLINE_S = 170  # the whole command must end within 180 s

# Per workload: warm-up operations (part of set-up) and the fewest measured
# operations. A traced run measures at least four operations, so that two
# traced ones can be compared for count drift. frontend_scale is runnable
# but not in BENCHMARK.json: see README.md.
PLAN = {
    "frontend_scale": {"warmup": 2, "min_ops": 3},
    "medallion_full": {"warmup": 1, "min_ops": 2},
    "medallion_incremental": {"warmup": 1, "min_ops": 3, "max_ops": 12},
}
HEAP = "3g"

# End-to-end metrics (untraced run) and per-layer metrics (traced run);
# BENCHMARK.json lists the same names.
END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "peak_rss_mb": "MB",
              "stored_bytes_ratio": "ratio"}
PER_LAYER = {
    "config.load_s": "s", "config.resolve_s": "s", "config.files": "count",
    "config.flowgroups": "count", "config.actions": "count",
    "plan.order_s": "s", "plan.graph_s": "s", "plan.sql_parses": "count",
    "plan.edges": "count", "plan.generations": "count",
    "catalyst.queries": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.tasks": "count", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.busy_frac": "ratio", "exec.idle_s": "s",
    "exec.shuffle_bytes": "bytes", "exec.input_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.job_s": "s", "exec.fg_sum_s": "s",
    "exec.fg_parallelism": "ratio",
    "store.job_s": "s", "store.files_written": "count",
    "store.bytes_written": "bytes", "store.changelog_bytes": "bytes",
    "store.tombstone_bytes": "bytes", "store.checkpoint_bytes": "bytes",
    "store.stored_bytes_ratio": "ratio",
    "stream.job_s": "s", "stream.queries": "count", "stream.triggers": "count", "stream.trigger_s": "s",
    "stream.add_batch_s": "s", "stream.planning_s": "s", "stream.commit_s": "s",
    "stream.lifecycle_s": "s", "stream.input_rows": "count",
    "stream.state_rows": "count",
    "tests.job_s": "s", "eventlog.job_s": "s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "accounting.wall_s": "s", "trace.overhead_s": "s", "counts.drifted": "count",
}
# Counts that must repeat exactly across the traced operations of one run
# (the reference harness's "counts: any drift fails" rule).
FRONT_END_COUNTS = ["config.files", "config.flowgroups", "config.actions",
                    "plan.edges", "plan.generations", "plan.sql_parses"]
INVARIANTS = {
    "frontend_scale": FRONT_END_COUNTS,
    "medallion_full": FRONT_END_COUNTS + ["exec.jobs", "stream.triggers"],
    "medallion_incremental": FRONT_END_COUNTS + ["exec.jobs", "stream.triggers"],
}
def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build compiles, so a checkout builds once."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness with sbt; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: no engine source here", 2)
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(HARNESS, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                   "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "writeClasspath"], cwd=HARNESS, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not os.path.isfile(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log: {log})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(cp, work, args, budget_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"the engine run exceeded {budget_s:.0f} s "
                 f"(log: {os.path.join(work, 'jvm.log')})", 4)
    path = os.path.join(work, "result.json")
    if not os.path.isfile(path):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail("the engine run wrote no result", 4)
    return json.load(open(path))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); None below 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    pct = int(100 * (n - 10) / n)
    return sorted(xs)[max(0, -(-pct * n // 100) - 1)], pct


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PLAN))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    o = ap.parse_args()
    t_start = time.time()
    cp = build()

    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = PLAN[o.workload]
    project = os.path.join(work, "project")
    args = {"workload": o.workload, "trace": o.trace, "work": work,
            "seconds": o.seconds, "cores": len(os.sched_getaffinity(0)),
            "warmup": plan["warmup"],
            "min_ops": max(plan["min_ops"], 4) if o.trace else plan["min_ops"]}
    t_gen = time.time()
    if o.workload == "frontend_scale":
        args["expect_flowgroups"] = gen.frontend_project(project, o.seed)
    else:
        landing = os.path.join(work, "landing")
        incs = plan["warmup"] + plan["max_ops"] if "max_ops" in plan else 0
        gen.medallion_data(landing, os.path.join(work, "staging"), o.seed, incs)
        gen.medallion_project(project, landing)
        args["increments"] = incs
    gen_s = time.time() - t_gen

    budget = JVM_DEADLINE_S - (time.time() - t_start)
    r = run_jvm(cp, work, args, budget)
    errors = list(r.get("errors", []))
    if "error" in r:
        errors.append(r["error"])
    attempted, failed = r.get("attempted", 0), r.get("failed", 0)

    checks = []
    if o.workload != "frontend_scale" and "error" not in r:
        checks = check.medallion(work)
        attempted += len(checks)
        failed += sum(1 for c in checks if not c["ok"])
        errors += [f"check {c['name']}: {c['detail']}" for c in checks if not c["ok"]]

    ops = r.get("op_s", [])
    detail = {
        "workload": o.workload, "seed": o.seed, "trace": o.trace,
        "samples": len(ops), "op_s": ops, "generate_s": gen_s,
        "checks": [c["name"] for c in checks],
    }
    # the per-workload names of the latency metric
    alias = {"frontend_scale": "validate_s", "medallion_full": "full_run_s",
             "medallion_incremental": "increment_p50_s"}[o.workload]
    detail[alias] = median(ops)
    if o.workload == "medallion_incremental":
        detail["full_refresh_cold_s"] = r.get("setup_ops_s", [None])[0]
        t = tail(ops)
        detail["increment_tail_s"] = t and {"value": t[0], "percentile": t[1]}
    if o.workload != "frontend_scale":
        landed_bytes = check.tree_bytes(os.path.join(work, "landing"))
        detail["input_rows"] = check.input_rows(work)
        detail["landed_bytes"] = landed_bytes
        detail["stored_bytes_ratio"] = r.get("warehouse_bytes", 0) / max(landed_bytes, 1)

    if o.trace == 0:
        metrics = {"setup_s": r.get("setup_s"), "latency_p50_s": median(ops),
                   "peak_rss_mb": r.get("peak_rss_mb"),
                   "stored_bytes_ratio": detail.get("stored_bytes_ratio", 0.0)}
        units = END_TO_END
    else:
        layers = dict(r.get("layers", {}))
        layers["trace.overhead_s"] = median(r.get("traced_op_s", [])) - median(ops)
        layers["jvm.heap_peak_mb"] = r.get("heap_peak_mb")
        layers["store.stored_bytes_ratio"] = detail.get("stored_bytes_ratio", 0.0)
        per_op = r.get("per_op", {})
        repeating = sorted(k for k, v in per_op.items()
                           if len(v) > 1 and len(set(v)) == 1)
        drifted = [k for k in INVARIANTS.get(o.workload, [])
                   if len(set(per_op.get(k, []))) > 1]
        layers["counts.drifted"] = len(drifted)
        errors += [f"count drift: {k} = {per_op[k]}" for k in drifted]
        failed += len(drifted)
        detail["repeating_counts"] = repeating
        detail["sites_s"] = r.get("sites_s", {})
        metrics = {k: layers.get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER

    detail["failed_frac"] = failed / max(attempted, 1)
    metrics = {k: v if isinstance(v, (int, float)) and v == v else None
               for k, v in metrics.items()}
    ok = not errors and len(ops) > 0 and None not in metrics.values()
    for e in errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print("perfbench detail: " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]}
                                  for k in units}}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
