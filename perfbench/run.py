#!/usr/bin/env python3
"""Benchmark of the graft pipeline engine: one workload run per call.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source on first use (sbt, offline), writes the
workload's seeded inputs, runs the workload in one JVM as a single-client
closed loop over a fixed amount of work sized to take about S seconds,
checks every output, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. Exits
1 when an output check fails or a unit of work fails or is not run in
time (the result line is still printed), or when the run does not finish;
2 on bad usage or a missing source tree. See perfbench/README.md for what
is measured.
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

import benchlib  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("pipeline_bulk", "operator_mix")
BUILD_DIR = os.path.join(HERE, ".build")
WORK_ROOT = os.path.join(HERE, ".work")
DEADLINE_S = 170  # the whole run, build excluded: the workload JVM is killed then
# The measured phase stops at the next unit this long before DEADLINE_S,
# leaving time to write the result and check it; units it did not run count
# as failed operations and the ones it ran are still reported.
CHECK_RESERVE_S = 35

# Workload sizes. The measured work is fixed per run: ROUNDS_PER_S rounds
# (pipeline cycles, operator_mix passes) per requested second, so every run
# and every commit measures the same work; at --seconds 14 that is 7 cycles
# or 2 passes, which a 4-core host completes in 7-24 s depending on how
# busy the machine around it is.
BULK_ROWS = 100_000
# Warm-up cycles in set-up: a JVM's first cycles run slower while the JIT
# and Spark's code generation warm up.
WARMUP_CYCLES = 2
OPS_SF = 0.001
ROUNDS_PER_S = {"pipeline_bulk": 0.5, "operator_mix": 1 / 7}

# A fixed, pre-touched heap: peak RSS then moves with native memory
# (metaspace, code cache, threads, off-heap buffers), not with when the
# collector chose to grow the heap.
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark (sbt, offline); returns the
    runtime classpath. Cached until a source file changes."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    lines = open(os.path.join(BUILD_DIR, "build.log")).read().splitlines()
    if rc != 0:
        sys.exit(f"build failed (rc={rc}); see {BUILD_DIR}/build.log")
    cp = [x for x in lines if not x.startswith("[") and ".jar" in x][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def generate(workload, seed, rounds, work):
    """Writes the run's inputs; returns the plan the checks use."""
    if workload == "operator_mix":
        gen.fixtures(os.path.join(work, "fixtures"), seed, OPS_SF)
        return None
    inputs = os.path.join(work, "inputs")
    warm = gen.bulk_snapshots(os.path.join(inputs, "warm"), seed + 1_000_003,
                              WARMUP_CYCLES, BULK_ROWS)
    plan = gen.bulk_snapshots(inputs, seed, rounds, BULK_ROWS)
    gen.write_plan(os.path.join(work, "plan.json"), {"warmup": warm, "cycles": plan})
    return plan


def host_sample():
    """CPU time counters from /proc/stat (aggregate line)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals


def host_noise(before, after):
    """Steal and iowait as shares of all CPU time between two samples, plus
    load average and usable cores: recorded beside every run so a noisy
    host window can be told from a real change."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"steal_share": d[7] / total if len(d) > 7 else 0.0,
            "iowait_share": d[4] / total, "loadavg": load,
            "nproc": len(os.sched_getaffinity(0))}


def run_jvm(cp, args, work, deadline):
    argfile = os.path.join(work, "java.args")
    with open(argfile, "w") as f:
        f.write("-cp\n" + cp + "\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + HEAP + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", f"@{argfile}", "graftbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=dict(os.environ, TMPDIR=tmp))
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no program source tree next to {HERE}: nothing to build")
        return 2
    cp = build()
    start = time.time()

    work = os.path.join(WORK_ROOT, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rounds = max(1, round(a.seconds * ROUNDS_PER_S[a.workload]))
    t0 = time.time()
    plan = generate(a.workload, a.seed, rounds, work)
    gen_s = time.time() - t0

    host0 = host_sample()
    launch_ms = int(time.time() * 1000)
    rc = run_jvm(cp, ["--workload", a.workload, "--work", work, "--seconds", str(a.seconds),
                      "--rounds", str(rounds), "--trace", str(a.trace), "--seed", str(a.seed),
                      "--launch-ms", str(launch_ms),
                      "--deadline-ms", str(int((start + DEADLINE_S - CHECK_RESERVE_S) * 1000)),
                      "--cpus", str(len(os.sched_getaffinity(0)))],
                 work, start + DEADLINE_S)
    noise = host_noise(host0, host_sample())
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        log(f"workload JVM {'timed out' if rc is None else f'exited {rc}'}; "
            f"last log lines:\n" + "".join(open(os.path.join(work, "jvm.log")).readlines()[-20:]))
        return 1
    res = json.load(open(result))

    # units the measured phase had no time left for are failed operations
    skipped = res["skipped"]
    if skipped:
        log(f"{skipped} units not run: the measured phase reached its time limit")
    failed_ops = len(res["failures"]) + skipped
    if a.workload == "operator_mix":
        attempted = len(res["queries"]) + len(res["units"]) + skipped
        c_att, c_fail, msgs = checks.operator_mix(
            res, os.path.join(work, "fixtures"), os.path.join(work, "results"))
    else:
        attempted = len(res["units"]) + skipped
        c_att, c_fail, msgs = checks.pipeline(res, plan)
    attempted += c_att
    failed = failed_ops + c_fail
    for m in res["failures"] + msgs:
        log(f"FAILED {m}")

    if a.trace:
        values = benchlib.per_layer(res, a.workload)
        units = benchlib.per_layer_units()
        extra = {}
    else:
        values, extra = benchlib.end_to_end(res, a.workload)
        units = benchlib.END_TO_END
    diag = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "units": len(res["units"]), "generate_s": round(gen_s, 3),
            "op_s": [round(u["op_s"], 3) for u in res["units"]],
            "failed_ratio": failed / attempted if attempted else 0.0,
            "host": dict(noise, probe_s=res["host_probe_s"]), "samples": extra}
    print("diagnostics " + json.dumps(diag))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
