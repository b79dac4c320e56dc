"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine from source (once per
source state), generates the fixtures into a per-run temporary directory,
runs one JVM that replays the seed-ordered closed loop from a single client
thread, checks every output against `expected.json`, and prints as the last
stdout line {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it stamps the host (cores, heap, Spark version, load average).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402
import build  # noqa: E402
import gen_fixtures  # noqa: E402

HEAP = "2g"
RUN_DEADLINE_S = 150  # the JVM refuses operations past this; a run must end within 180
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

def expected_outputs():
    with open(os.path.join(build.BENCH_DIR, "expected.json")) as fh:
        exp = json.load(fh)
    if exp["generator_version"] != gen_fixtures.GENERATOR_VERSION:
        raise SystemExit("perfbench: expected.json was recorded for another fixture generator")
    return exp


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def jvm_command(run_dir, classes, n, main_args):
    """(argv, env) running `main_args` on the engine's classpath, with every
    temporary and spill directory inside `run_dir`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               SPARK_GRAFT_CPUS=str(n))
    return cmd + main_args, env


def fixtures():
    """The generated fixtures, made once per generator version. Runs only
    read them."""
    path = os.path.join(build.OUT, f"fixtures-v{gen_fixtures.GENERATOR_VERSION}")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        gen_fixtures.write(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # another run made them first
            shutil.rmtree(tmp)
    return path


def run_jvm(classes, workload, seed, seconds, trace, run_dir, started):
    """Run the benchmark JVM on a fresh plan; return (plan, raw result)."""
    n = cores()
    plan = bench.make_plan(workload, seed, seconds, trace)
    budget = RUN_DEADLINE_S - (time.monotonic() - started)
    lines = [f"workload {workload}", f"fixtures {fixtures()}", f"cores {n}",
             f"warmup {bench.WORKLOADS[workload]['warmup']}",
             f"op_timeout_s {bench.OP_TIMEOUT_S}", f"deadline_s {max(budget - 10, 1):.0f}",
             f"warehouse {os.path.join(run_dir, 'warehouse')}",
             f"local_dir {os.path.join(run_dir, 'local')}"]
    for phase in dict.fromkeys(ph for ph, _, _ in plan):
        lines.append(f"phase {phase}")
        lines += [f"op {p} {op}" for ph, p, op in plan if ph == phase]
    plan_file = os.path.join(run_dir, "plan.txt")
    with open(plan_file, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    result_file = os.path.join(run_dir, "result.json")
    cmd, env = jvm_command(run_dir, classes, n, ["perfbench.Main", plan_file, result_file])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=RUN_DEADLINE_S + 15 - (time.monotonic() - started))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(result_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {proc.returncode})")
    with open(result_file) as fh:
        raw = json.load(fh)
    raw["launched_epoch_s"] = launched
    return plan, raw


def trace_dump(workload, seed, raw, metrics, text):
    out = os.path.join(build.OUT, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{workload}-seed{seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": workload, "seed": seed, "raw": raw, "per_layer": metrics}, fh)
    sys.stderr.write(text + f"\n  span and counter dump: {path}\n")


def main(argv):
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload", required=True, choices=sorted(bench.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    expected = expected_outputs()
    classes = build.build()  # the first run in a checkout builds; not part of the deadline
    started = time.monotonic()
    load0, ticks0 = os.getloadavg(), cpu_ticks()
    run_dir = os.path.join(build.ROOT, ".bench_build", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        plan, raw = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, run_dir, started)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    phase = "traced" if a.trace else "timed"
    planned = [(p, op) for ph, p, op in plan if ph == phase]
    attempted, failed = bench.failures(planned, raw["phases"][phase]["ops"], expected)
    for i, name, reason in failed:
        sys.stderr.write(f"perfbench: op {i} {name} failed: {reason}\n")
    lat = bench.samples(raw["phases"][phase])
    if a.trace:
        values = bench.per_layer(a.workload, raw, len(failed) / attempted)
        units = dict(bench.PER_LAYER)
        trace_dump(a.workload, a.seed, raw, values, bench.summary(a.workload, values, len(lat)))
    else:
        values = bench.end_to_end(a.workload, raw)
        units = dict(bench.END_TO_END)
    beyond = bench.tail(a.workload, lat)[1]
    if beyond < bench.TAIL_BEYOND:
        sys.stderr.write(f"perfbench: only {beyond} of {len(lat)} jobs lie beyond the tail\n")
    env = dict(raw["env"], workload=a.workload, seed=a.seed,
               passes=bench.passes_for(a.workload, a.seconds), jobs=len(lat),
               tail_percentile=bench.WORKLOADS[a.workload]["tail_pct"], jobs_beyond_tail=beyond,
               loadavg_start=load0, loadavg_end=os.getloadavg())
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # time the hypervisor gave this machine's CPUs to others
        env["cpu_steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    print(json.dumps({"perfbench_env": env}))
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
