#!/usr/bin/env python3
"""Benchmark of the forecast pipeline and of the fit-loop registry queries.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload retail_long_history --seed 1 \
        --seconds 15 --trace 0

The first run builds the engine and the benchmark from source with sbt
(its own build in this directory, which depends on the root build) and
caches the classpath under perfbench/target; later runs reuse it until a
source file changes. The run itself is one JVM (perfbench.Main). The
last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding every end_to_end metric of BENCHMARK.json with --trace 0 and
every per_layer metric with --trace 1. A per-layer metric of a layer the
workload does not run reads 0.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# JDK 17 module opens Spark needs outside spark-submit (the root build's
# javaOptions carry the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every build input: sizes and mtimes of the sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)} {st.st_size} {st.st_mtime_ns}\n"
                 .encode())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, capture):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else None)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, (out or b"").decode("utf-8", "replace")


def classpath():
    stamp_file = os.path.join(TARGET, "bench-classpath.stamp")
    cp_file = os.path.join(TARGET, "bench-classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false"
                       " -Xmx2g").strip()
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        BENCH, env, BUILD_TIMEOUT_S, capture=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {rc})")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        fail("BENCHMARK.json not found")
    with open(spec_file) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources are not next to the benchmark; "
             "run from the root of a full checkout")

    cp = classpath()
    work = os.path.join(TARGET, "work", a.workload)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", os.path.join(BENCH, "data")]
    # Spark's local-dir variables would move shuffle files out of the
    # checkout
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    rc, out = run_bounded(cmd, ROOT, env, RUN_TIMEOUT_S, capture=True)
    tag = "PERFBENCH_RESULT "
    found = [l[len(tag):] for l in out.splitlines() if l.startswith(tag)]
    if rc != 0 or not found:
        fail(f"benchmark process exited {rc} without a result")
    raw = json.loads(found[-1])

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = raw["metrics"].get(m["name"])
        if v is None:
            if not a.trace:
                fail(f"metric {m['name']} missing")
            v = 0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    result = {"correct": raw["failed"] == 0 and raw["attempted"] > 0,
              "attempted": raw["attempted"], "failed": raw["failed"],
              "metrics": metrics}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
