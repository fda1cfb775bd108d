#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark when
their sources changed (perfbench/build.py), checks free disk, then starts
one JVM (perfbench.Main) whose Spark scratch and temp files live in
.bench_work/run-<pid> and are removed afterwards. Spark's log goes to
.bench_out/<workload>-seed<n>-trace<t>.log, the traced run's spans to
.bench_out/trace-<workload>-seed<n>.jsonl.

The last line is {"correct", "attempted", "failed", "metrics"}: with
--trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics. The line before it is {"info": ...}: sample counts,
tail percentiles, the workload's named rates, the contention sentinel and
free disk. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

ROOT = build.ROOT
RUN_TIMEOUT_S = 170
MIN_FREE_GB = 3.0
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    with open(bench_file) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.build()

    free_gb = shutil.disk_usage(ROOT).free / 2**30
    if free_gb < MIN_FREE_GB:
        fail(f"only {free_gb:.1f} GiB free in {ROOT}; need {MIN_FREE_GB}")

    spec = bench["per_layer"] if a.trace else bench["end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = [build.java(), "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out,
            "--cores", str(cores())]

    log_path = os.path.join(out, f"{tag}.log")
    proc = None

    def stop(*_):
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    started = time.time()
    try:
        with open(log_path, "w") as log:
            # SPARK_LOCAL_DIRS overrides spark.local.dir; pin both inside
            # the run's own scratch directory
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    text=True, cwd=ROOT, env=env)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM exited {proc.returncode} without a result; log: {log_path}")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    got = set(res["metrics"])
    if got != set(units):
        fail(f"metric set differs from BENCHMARK.json: "
             f"missing {sorted(set(units) - got)}, extra {sorted(got - set(units))}")
    info = dict(res["info"], free_disk_gb=round(free_gb, 1),
                jvm_wall_s=round(time.time() - started, 2))
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": bool(res["correct"]) and res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": res["metrics"][n], "unit": units[n]} for n in units},
    }))


if __name__ == "__main__":
    main()
