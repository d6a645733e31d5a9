#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark's own code from source with sbt on first
use (or when a source file changed), then runs the benchmark JVM
(perfbench.Main) on local[<cores of this process>]. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
Everything it writes stays under .bench_build/ in the checkout.
Any further `--key value` pairs are passed to perfbench.Main (for example
`--record <dir>` on operator_mix, see README.md).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
# the first run of a checkout builds, trains the class archive and runs
BUILD_TIMEOUT_S = 540
TRAIN_TIMEOUT_S = 180
RUN_TIMEOUT_S = 170
HEAP = "2g"
ARCHIVE = os.path.join(BUILD, "classes.jsa")
# JIT compiler and GC threads: two each, not one per core, so that they
# take less of the machine from the Spark tasks
JVM_THREADS = ["-XX:CICompilerCount=2", "-XX:-UseDynamicNumberOfCompilerThreads",
               "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_jvm(cp, work, flags, main_args, timeout_s):
    """Run perfbench.Main in its own process group; return its exit code.
    The JVM's own stdout (library prints) goes to stderr, so the result line
    is the last line of this process's stdout."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"] + JVM_THREADS + flags +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--cores", cores(), "--work", work, "--data", os.path.join(HERE, "data")] +
           main_args)
    env = dict(os.environ, SPARK_GRAFT_STAGE_DIR=os.path.join(work, "stage"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM exceeded {timeout_s} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def cores():
    return str(len(os.sched_getaffinity(0)))


def build():
    """Compile with sbt and make the class archive, unless both are current."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and os.path.exists(ARCHIVE):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    cmd = ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true",
           "compile", "export Runtime / fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail(f"sbt build exceeded {BUILD_TIMEOUT_S} s")
    lines = out.stdout.splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if out.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("sbt build failed")
    cp = cp[-1]
    # Class-data sharing: one untimed JVM runs an op of every workload and
    # dumps the classes it loaded; every run then maps them instead of
    # loading Spark's classes one by one (about 8 s less set-up per run)
    work = os.path.join(BUILD, "run", f"archive-{os.getpid()}")
    code = run_jvm(cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                   ["--train", "1", "--workload", "profile", "--seed", "0",
                    "--seconds", "0", "--trace", "0"],
                   TRAIN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(ARCHIVE):
        fail(f"class archive run exited with code {code}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args, extra = ap.parse_known_args()
    if not os.path.isdir(LIB_SRC):
        fail(f"library sources not found at {os.path.relpath(LIB_SRC, ROOT)}; "
             "run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp = build()

    work = os.path.join(BUILD, "run", f"{args.workload}-{os.getpid()}")
    result = os.path.join(work, "result.json")
    code = run_jvm(cp, work, [f"-XX:SharedArchiveFile={ARCHIVE}"],
                   ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", args.trace,
                    "--traces", os.path.join(BUILD, "traces"), "--result", result] + extra,
                   RUN_TIMEOUT_S)
    if "--record" in extra:
        # keep the staged fixtures: the dumped oracle SQL reads them
        print(f"perfbench: recorded; fixtures kept under {work}", file=sys.stderr)
        sys.exit(code)
    line = None
    if code == 0 and os.path.exists(result):
        with open(result) as f:
            line = f.read().strip()
    shutil.rmtree(work, ignore_errors=True)
    if not line:
        fail(f"benchmark JVM exited with code {code} and no result")
    print(line)


if __name__ == "__main__":
    main()
