#!/usr/bin/env python3
"""Lake-path benchmark for graft.

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 12 --trace 0

Builds the benchmark (graft's sources plus ./src) with sbt on first use,
runs one workload in a fresh JVM for --seconds of closed-loop operations,
checks every result against DuckDB, and prints the metrics. The last line
of stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 prints the end-to-end metrics; --trace 1 traces half of the
operations of each class and prints the per-layer metrics. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import plan as plans  # noqa: E402

WORKLOADS = list(plans.OPS)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170      # the whole run, build excluded
CHECK_RESERVE_S = 25   # kept back from the JVM for the result checks
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: graft sources (src/main/scala/graft) not found; "
                         "run from a full checkout of the repository")
    digest = sources_digest()
    cp_file, stamp = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building (sbt) ...")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return open(cp_file).read().strip()


def java_args(cp, work):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    args = [f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
    for p in opens:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return args + ["-cp", cp]


def run_jvm(cp, plan, work, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    plan_path, out_path = os.path.join(work, "plan.json"), os.path.join(work, "out.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    argfile = os.path.join(work, "jvm.args")
    with open(argfile, "w") as f:
        f.write("\n".join(json.dumps(a) for a in java_args(cp, work)))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    proc = subprocess.Popen([java, f"@{argfile}", "perfbench.Main", "--plan", plan_path,
                             "--out", out_path, "--work", work],
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: the run did not finish in time")
    if code != 0 or not os.path.exists(out_path):
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {code})")
    with open(out_path) as f:
        return json.load(f)


def stage(workload, seed, work):
    """Generate the run's inputs; returns the seconds it took."""
    from gen import Gen
    t0 = time.time()
    g = Gen(work, seed)
    if workload == "lake_read":
        r = plans.READ
        g.tpch(r["orders"], r["customers"], r["suppliers"])
    else:
        d, i = plans.DML, plans.INGEST
        g.orders_replicated("orders_rep", d["orders"], d["customers"], d["reps"], plans.REPLICA_SHIFT)
        g.documents(i["docs"], i["copies"], i["batches"])
    return time.time() - t0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    cp = build()
    start = time.time()
    from oracle import CHECKS  # needs duckdb; imported after the build check
    plan = plans.make_plan(a.workload, a.seed, a.seconds, a.trace)
    work = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen_s = stage(a.workload, a.seed, work)
        out = run_jvm(cp, plan, work, start + RUN_LIMIT_S - CHECK_RESERVE_S)
        out["gen_s"] = gen_s
        bad = CHECKS[a.workload](out, plan, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wrong = {i for i, _ in bad}
    for i, why in bad:
        log(f"WRONG RESULT op {i}: {why}")
    for r in out["ops"]:
        if not r["ok"]:
            log(f"FAILED op {r['id']} ({r['cls']}): {r['err']}")
    attempted = len(out["ops"])
    failed = sum(1 for r in out["ops"] if not r["ok"] or r["id"] in wrong)
    correct = failed == 0 and -1 not in wrong

    print(f"# {a.workload} seed={a.seed} seconds={a.seconds:g} cpus={plans.CPUS} "
          f"trace={a.trace} ops={attempted} failed={failed}")
    print(f"# phases (s): session {out['session_s']:.1f}, inputs {out['gen_s']:.1f}, set-up rounds "
          f"{' '.join(f'{x:.1f}' for x in out['rounds_s'])}, warm-up {out['warmup_s']:.1f} "
          f"({', '.join(f'{k} {v:.1f}' for k, v in out['warmup_ops'].items())}), "
          f"loop {out['loop_s']:.1f} ({out['rounds_run']} rounds), run {time.time() - start:.0f}")
    if a.trace == 0:
        values, units = metrics.end_to_end(out, a.workload), metrics.END_TO_END
        for name, (v, unit) in metrics.report(out, a.workload, failed).items():
            print(f"  {name:32s} {v:14.4f} {unit}")
        p, n, tail = metrics.op_tail(out, a.workload)
        if tail is None:
            print(f"  op_ms_tail: {n} operations; a percentile with ten beyond it needs 20")
    else:
        # the raw spans and counters outlive the run's work directory
        traces = os.path.join(ROOT, ".bench_build", "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"ops": out["ops"], "trace": out["trace"]}, f)
        values, units = metrics.per_layer(out, a.workload), metrics.PER_LAYER
        for name in units:
            print(f"  {name:36s} {values[name]:14.4f} {units[name]}")
        print("# per class, medians of the traced operations (ms; counts):")
        print(f"  {'class':8s} {'wall':>9s} {'analyze':>9s} {'optimize':>9s} {'work':>9s} "
              f"{'sched':>9s} {'jobs':>5s} {'stages':>6s} {'tasks':>5s}")
        for c, d in metrics.class_split(out).items():
            print(f"  {c:8s} {d['ms']:9.1f} {d['analyze']:9.1f} {d['optimize']:9.1f} "
                  f"{d['work']:9.1f} {d['sched']:9.1f} {d['jobs']:5g} {d['stages']:6g} {d['tasks']:5g}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
