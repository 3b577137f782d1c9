#!/usr/bin/env python3
"""GenPipe benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source (perfbench/build.py), runs the workload in fresh JVMs on local[4],
checks every output against its model or digest, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). Everything it writes stays under .bench_build/ and
.bench_run/ in the current directory. See perfbench/README.md.

    python3 perfbench/run.py --self-test          # model self-test, tiny cohort
    python3 perfbench/run.py --capture-digests    # re-derive the harness digests
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH_DIR = build.BENCH_DIR
RUN_DIR = ".bench_run"
# a workload JVM: set-up, warm-up and checks, plus the measured window
JVM_SLACK_S = 120
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
DIGESTS = os.path.join(BENCH_DIR, "harness_digests.tsv")
WORKLOAD_METRICS = [
    ("pipeline_s", "s"), ("harness_s", "s"), ("query_p50_s", "s"), ("query_p95_s", "s"),
    ("stream_lag_p50_s", "s"), ("stream_lag_p95_s", "s"), ("stream.backlog_files", "files"),
    ("pipeline.write_amp", "ratio")]


def spec():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def jvm(classpath, work, args, timeout):
    """Run perfbench.Main in a fresh JVM; return its result object."""
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark_local"),
               # the d6 cluster cache: fresh per JVM, owned by this run
               SPARK_GRAFT_TABLE_CACHE=os.path.join(work, "table_cache"))
    cmd = build.java_cmd(classpath, "perfbench.Main")
    cmd[1:1] = [f"-Djava.io.tmpdir={tmp}",
                f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    cmd += args + ["--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM timed out after {timeout}s: {' '.join(args)}")
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"JVM exited {code}: {' '.join(args)}\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def run_workload(classpath, work, a, trace):
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", "1" if trace else "0"]
    if a.workload.startswith("harness"):
        args += ["--data", DATA_DIR, "--digests", DIGESTS]
    return jvm(classpath, os.path.join(work, "traced" if trace else "main"), args,
               timeout=JVM_SLACK_S + 2 * a.seconds)


def measure(a):
    s = spec()
    names = [w["name"] for w in s["workloads"]]
    if a.workload not in names:
        raise RuntimeError(f"unknown workload {a.workload}; one of {names}")
    classpath = build.build()
    work = os.path.abspath(os.path.join(RUN_DIR, f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        main = run_workload(classpath, work, a, trace=False)
        attempted, failed = main["attempted"], main["failed"]
        notes = list(main["notes"])
        if a.trace:
            traced = run_workload(classpath, work, a, trace=True)
            attempted += traced["attempted"]
            failed += traced["failed"]
            notes += traced["notes"]
            values = dict(traced["metrics"])
            # tracing overhead: traced minus untraced, same seed, fresh JVMs
            for key, name in (("pipeline_s", "trace.pipeline_overhead_s"),
                              ("harness_s", "trace.harness_overhead_s")):
                if key in main["metrics"]:
                    values[name] = traced["metrics"][key] - main["metrics"][key]
            wanted = s["per_layer"]
            # a layer the workload does not run did no work on it
            default = 0.0
        else:
            values = dict(main["metrics"])
            wanted = s["end_to_end"]
            default = None
    finally:
        spans = os.path.join(work, "traced", "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(RUN_DIR, f"spans-{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    metrics, missing = {}, []
    for m in wanted:
        v = values.get(m["name"], default)
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for n in notes[:20]:
        print("note:", n)
    if missing:
        print("missing metrics:", ", ".join(missing))
    # the workload's own names for what work_s and op_p*_s measure
    for name, unit in WORKLOAD_METRICS:
        if name in values:
            print(f"metric {name} {values[name]} {unit}")
    print(f"metric error_rate {failed / max(attempted, 1)} ratio "
          f"({failed} of {attempted} operations failed)")
    return {"correct": failed == 0 and not missing, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def self_test():
    classpath = build.build(test=True)
    work = os.path.abspath(os.path.join(RUN_DIR, f"selftest-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cmd = build.java_cmd(classpath, "perfbench.CohortModelSelfTest") + [work]
        cmd[1:1] = [f"-Djava.io.tmpdir={work}"]
        return subprocess.run(cmd, timeout=600,
                              env=dict(os.environ, SPARK_LOCAL_DIRS=work)).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


def capture_digests():
    """Verify -> tools/check_oracle.py -> digest the verified outputs."""
    classpath = build.build()
    work = os.path.abspath(os.path.join(RUN_DIR, f"capture-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    verified = os.path.join(work, "verified")
    os.makedirs(work)
    try:
        env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_DIRS=work,
                   SPARK_GRAFT_TABLE_CACHE=os.path.join(work, "table_cache"))
        cmd = build.java_cmd(classpath, "graft.Verify") + [DATA_DIR, verified]
        cmd[1:1] = [f"-Djava.io.tmpdir={work}"]
        subprocess.run(cmd, check=True, env=env, timeout=1200)
        check = subprocess.run([sys.executable, os.path.join("tools", "check_oracle.py"),
                                DATA_DIR, verified], stdout=subprocess.PIPE, text=True)
        print(check.stdout[-2000:])
        if check.returncode != 0 or "FAIL" in check.stdout:
            print("oracle check failed; digests not captured", file=sys.stderr)
            return 1
        jvm(classpath, os.path.join(work, "digest"),
            ["--workload", "harness_capture", "--verified", verified, "--digests", DIGESTS],
            timeout=600)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    p.add_argument("--capture-digests", action="store_true")
    a = p.parse_args()
    try:
        if a.self_test:
            return self_test()
        if a.capture_digests:
            return capture_digests()
        if not a.workload:
            p.error("--workload is required")
        result = measure(a)
    except (build.BuildError, RuntimeError, OSError, subprocess.SubprocessError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
