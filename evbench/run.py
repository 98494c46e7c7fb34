#!/usr/bin/env python3
"""Pipeline and registry benchmark for the graft engine.

Run from the root of a source checkout:

    python3 evbench/run.py --cores 3 --heap-mb 2048 --workload evidence_sink --seed 1 --seconds 16 --trace 0

Builds the program and the benchmark from source with sbt on first use
(cached under evbench/target, keyed by a hash of the sources), then runs
one workload in one JVM and prints one JSON line as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. `--selftest` checks the benchmark's own input generator
and output check instead.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "evbench-classpath.txt")
WORK = os.path.join(HERE, "work")
JVM_TIMEOUT_S = 170

# Module opens Spark needs on JDK 17 outside spark-submit (the same list
# as the program's own build).
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
    print(f"[evbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file that goes into the build, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"), __file__,
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles program and benchmark unless the sources are unchanged;
    returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            cached_stamp, cp = fh.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=840)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    cp = cps[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def java(cp, heap_mb, main, args, log_path):
    # JVM log lines go to stderr: stdout carries only the result.
    cmd = (["java", f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
            # Compiler threads live for the whole run, so the benchmark can
            # leave their CPU out of cpu_s.
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Xlog:disable", "-Xlog:all=warning:stderr"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, main] + args)
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"JVM timed out after {JVM_TIMEOUT_S} s; log: {log_path}")
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"JVM exited with {proc.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=3, help="Spark local[k] task slots (pinned)")
    ap.add_argument("--heap-mb", type=int, default=2048, help="JVM heap; min = max")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no program sources next to the benchmark (expected build.sbt and src/main/scala)")
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    common = ["--cores", str(a.cores)]
    if a.selftest:
        out = java(cp, a.heap_mb, "evbench.SelfTest", common + ["--work", "evbench/work/selftest"],
                   os.path.join(WORK, "selftest.log"))
        sys.stdout.write(out)
        return

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    args = common + ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--work", f"evbench/work/{a.workload}"]
    out = java(cp, a.heap_mb, "evbench.Main", args, os.path.join(WORK, f"{a.workload}.log"))
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        raise SystemExit("the benchmark printed no result")
    raw = json.loads(lines[-1])
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = raw["metrics"].get(m["name"])
        if not isinstance(v, (int, float)):
            raise SystemExit(f"metric {m['name']} missing from the result")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    result = {"correct": bool(raw["correct"]), "attempted": int(raw["attempted"]),
              "failed": int(raw["failed"]), "metrics": metrics}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
