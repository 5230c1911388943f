#!/usr/bin/env python3
"""Job-path benchmark: build once, then run one workload in a fresh JVM.

    python3 jobbench/run.py --workload batch_load|cdc_epochs|stream_scd2 \
        --seed N --seconds S --trace 0|1 [--size tiny] [--corrupt 1]

Run from the root of a checkout. The first run builds the benchmark's sbt
project (jobbench/build.sbt, which compiles the program's sources with the
benchmark's) into $CARGO_TARGET_DIR (default .bench_build) and caches the
classpath keyed by a hash of every source file; later runs launch the JVM
directly. The last line of standard output is the result JSON; the line
before it carries the per-workload detail metrics. A failed build, a
missing program or a run past its time limit exits non-zero with no result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
PROGRAM = os.path.join(ROOT, "src", "main")
WORKLOADS = ("batch_load", "cdc_epochs", "stream_scd2")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
SKIP_DIRS = {"target", ".bsp", "project/target", "project/project"}

# Spark on JDK 17 needs these outside spark-submit: a copy of the list in the
# program's build.sbt, which this must track.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[jobbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    for top in (PROGRAM, HERE):
        for d, dirs, files in os.walk(top):
            rel = os.path.relpath(d, top)
            dirs[:] = sorted(x for x in dirs
                             if os.path.normpath(os.path.join(rel, x)) not in SKIP_DIRS)
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")) or top == PROGRAM:
                    yield os.path.join(d, f)


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(PROGRAM, "scala")):
        fail(f"program sources not found under {PROGRAM}")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    os.makedirs(BUILD, exist_ok=True)
    target = os.path.join(BUILD, "target")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Djobbench.target={target}",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_TIMEOUT_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S}s; see {log}")
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith(target)]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--corrupt", default="0", choices=("0", "1"))
    a = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "jobbench.Bench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work,
            "--launched-ms", str(int(time.time() * 1000)),
            "--size", a.size, "--corrupt", a.corrupt])
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log}", 3)
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write("\n".join(lines[-2:]) + "\n" if lines else "")
        fail(f"run failed (exit {proc.returncode}); see {log}", proc.returncode or 1)
    print("\n".join(lines[-2:]))


if __name__ == "__main__":
    main()
