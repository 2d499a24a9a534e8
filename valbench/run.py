#!/usr/bin/env python3
"""Validation-engine benchmark: one workload, one fresh JVM, one result line.

    python3 valbench/run.py --workload fullpass_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (valbench/build.sbt); later runs reuse the
build while no source file changed. The benchmark JVM generates its inputs
from --seed into the run's scratch directory, which is deleted at the end.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}} with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
See valbench/README.md for the workloads and metrics.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(BENCH, ".work")

WORKLOADS = ("fullpass_stream", "resume_report")
SBT_VERSION = "1.10.0"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 890

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"valbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(*dirs):
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                if f.endswith(".scala"):
                    yield os.path.join(base, f)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, deadline, **kw):
    """Run cmd in its own process group; kill the group at the deadline."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"timed out: {' '.join(cmd[:3])} ...")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def build(stamp, deadline):
    """Compile engine + benchmark with sbt unless the build is current."""
    cp_file = os.path.join(TARGET, "valbench-classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = f.read().split("\n")
        if saved[0] == stamp:
            return saved[1]
    cmd = ["sbt", f"-Dsbt.version={SBT_VERSION}", "--batch",
           "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    # the build resolves from the local caches only, as the repository's does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    rc, out = run_group(cmd, deadline, cwd=BENCH, stdout=subprocess.PIPE,
                        stderr=subprocess.STDOUT, text=True, env=env)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or "valbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("sbt build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def heap_size():
    """The repository's test heap formula: half of RAM, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                             capture_output=True, text=True)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")

    start = time.time()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    engine_files = list(source_files(ENGINE_SRC))
    stamp = digest(engine_files + list(source_files(BENCH_SRC)) +
                   [os.path.join(BENCH, "build.sbt")], SBT_VERSION)
    cp_file = os.path.join(TARGET, "valbench-classpath.txt")
    built = os.path.exists(cp_file) and open(cp_file).readline().strip() == stamp
    deadline = start + (RUN_LIMIT_S if built else BUILD_LIMIT_S)
    classpath = build(stamp, deadline)

    threads = len(os.sched_getaffinity(0))
    heap = heap_size()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)

    jvm_args = [
        *[a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
        f"-Djava.io.tmpdir={tmp_dir}",
        f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "valbench.Main",
    ]
    log_path = os.path.join(WORK, "logs", f"{args.workload}-seed{args.seed}.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    try:
        with open(log_path, "w") as log:
            rc, out = run_group(
                ["java", f"-Xms{heap}", f"-Xmx{heap}", *jvm_args,
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--data", os.path.join(run_dir, "data"),
                 "--threads", str(threads), "--seconds", str(args.seconds),
                 "--trace", str(args.trace), "--work", run_dir],
                deadline, stdout=subprocess.PIPE, stderr=log, env=env, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result = record = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        elif line.startswith("RECORD "):
            record = json.loads(line[len("RECORD "):])
        elif line.strip():
            print(line)
    if rc != 0 or result is None:
        fail(f"benchmark JVM failed (exit {rc}), see {log_path}")
    record.update(workload=args.workload, seed=args.seed, cpus=threads,
                  heap=heap, git_commit=git_commit(),
                  source_sha256=stamp[:16])
    print(json.dumps({"record": record}))
    for name, m in result["metrics"].items():
        print(f"  {name} = {m['value']} {m['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
