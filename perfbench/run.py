#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
bench (sbt, offline) and caches the classpath under perfbench/.build;
later runs start the JVM directly. Each run generates its inputs from
the seed (gen.py), runs one workload in one driver JVM on local[nproc],
checks the outputs, and prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. A failed check or a missing metric exits non-zero.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(HERE, ".build")
DEADLINE_S = 170
HEAP = "3g"
SBT_OPTS = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(1)


def run_group(cmd, cwd, timeout, env=None, stdout=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout:.0f}s: {cmd[0]}")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_stamp():
    """Hash of every build input, so an edited tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(fs)]
    for f in inputs:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n"
                 .encode())
    return h.hexdigest()


def classpath(deadline):
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program source here ({need} missing); "
                 "run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        # a cached classpath whose entries are gone (a cleaned target
        # directory) is stale too
        if saved_stamp == stamp and all(
                os.path.exists(e) for e in cp.strip().split(os.pathsep)):
            return cp.strip()
    log("building program and bench (sbt, offline)")
    os.makedirs(BUILD, exist_ok=True)
    out = os.path.join(BUILD, "sbt.out")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    with open(out, "w") as f:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       HERE, deadline - time.time(), env=env, stdout=f)
    with open(out) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc})")
    cp = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln][-1]
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    # the first run in a checkout builds; its deadline is longer
    first = not os.path.exists(os.path.join(BUILD, "classpath.txt"))
    deadline = time.time() + (880 if first else DEADLINE_S)
    cp = classpath(deadline)
    if first:
        deadline = time.time() + DEADLINE_S

    sys.path.insert(0, HERE)
    import gen

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = os.path.join(work, "inputs")
        gen.generate(a.workload, a.seed, a.seconds, inputs)
        os.makedirs(os.path.join(work, "tmp"))
        result = os.path.join(work, "result.json")
        cpus = len(os.sched_getaffinity(0))
        cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC",
                f"-Djava.io.tmpdir={work}/tmp",
                "-Dlog4j2.configurationFile="
                + os.path.join(HERE, "log4j2.properties"),
                "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", a.workload, str(a.trace),
                  str(cpus), inputs, work, result])
        rc = run_group(cmd, ROOT, deadline - time.time())
        if rc != 0 or not os.path.exists(result):
            fail(f"workload {a.workload} failed (exit {rc})")
        with open(result) as f:
            r = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in wanted if r["metrics"].get(m["name"]) is None]
    if missing:
        fail(f"metrics not reported: {missing}")
    log(f"cpus={cpus} setup runs (s): {r['setup_runs_s']}")
    out = {
        "correct": bool(r["correct"]) and r["failed"] == 0,
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {m["name"]: {"value": r["metrics"][m["name"]],
                                "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
