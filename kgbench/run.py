#!/usr/bin/env python3
"""Knowledge-graph construction benchmark.

    python3 kgbench/run.py --workload extract_longlists --seed 1 --seconds 4 --trace 0

Run from the repository root. The script compiles the engine and the benchmark
from source with the Scala compiler that ships in the Spark jars, caches the
classes under .bench_build/kgbench keyed by a hash of every source, and runs
one workload in one JVM. The JVM prints the result as the last line of
standard output and exits non-zero when an output check fails.
`--workload all` runs every workload in turn, one result line each. See
kgbench/README.md.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "kgbench"
TMP = OUT / "tmp"
WORKLOADS = ("extract_longlists", "build_analyze")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175

# Spark 4 on JDK 17 needs these outside spark-submit (kept in step with
# kgbench/build.sbt, which runs the benchmark's own tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run(cmd, timeout, **kw):
    """Runs cmd in its own process group, so that a timeout or a signal to
    this script kills the whole group (java and its children included)
    and waits for it. Returns (code, stdout), or None on timeout."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, **kw)

    def stop():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.communicate()

    def on_signal(signum, _frame):
        stop()
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        stop()
        return None
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)


def spark_jars():
    """The Spark jars the engine build compiles against: the directory its
    build.sbt names as `unmanagedBase`, else $SPARK_HOME/jars. They include
    scala-compiler, scala-library and scala-reflect of the engine's Scala
    version."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m:
        jars_dir = Path(m.group(1))
    elif os.environ.get("SPARK_HOME"):
        jars_dir = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        fail("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset", 2)
    jars = sorted(jars_dir.glob("*.jar"))
    if not any(j.name.startswith("scala-compiler-") for j in jars):
        fail(f"no Spark jars with a Scala compiler under {jars_dir}", 2)
    return jars


def source_files():
    """Every Scala source of the engine and the benchmark, as sorted paths."""
    files = []
    for tree in (ROOT / "src" / "main" / "scala", BENCH / "src" / "main" / "scala"):
        files += [p for p in tree.rglob("*.scala") if p.is_file()]
    return sorted(files)


def build():
    """Compile the engine and the benchmark with the Scala compiler, unless
    the cached classes match the sources. No build tool runs, so nothing
    is resolved or written outside .bench_build."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no engine sources next to the benchmark (expected build.sbt and src/main/scala)", 2)
    jars = spark_jars()
    sources = source_files()
    digest = hashlib.sha256()
    for j in jars:
        digest.update(j.name.encode() + b"\0")
    for src in sources:
        digest.update(str(src.relative_to(ROOT)).encode() + b"\0" + src.read_bytes() + b"\0")
    stamp = digest.hexdigest()
    classes = OUT / "classes"
    resources = ROOT / "src" / "main" / "resources"
    classpath = os.pathsep.join([str(classes), str(resources)] + [str(j) for j in jars])
    stamp_file = OUT / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classpath
    stamp_file.unlink(missing_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    TMP.mkdir(parents=True, exist_ok=True)
    jar_cp = os.pathsep.join(str(j) for j in jars)
    args_file = OUT / "scalac.args"
    # one quoted argument a line, so that paths with spaces survive
    args_file.write_text("".join(f'"{a}"\n' for a in
                                 ["-nowarn", "-d", str(classes), "-classpath", jar_cp]
                                 + [str(s) for s in sources]))
    print("kgbench: compiling engine and benchmark with scalac", file=sys.stderr)
    res = run([java_bin(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={TMP}",
               "-cp", jar_cp, "scala.tools.nsc.Main", f"@{args_file}"],
              BUILD_TIMEOUT_S, cwd=ROOT, stderr=subprocess.STDOUT)
    if res is None:
        fail("scalac timed out", 3)
    code, out = res
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("scalac failed", 3)
    stamp_file.write_text(stamp)
    return classpath


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_workload(classpath, args, workload):
    TMP.mkdir(parents=True, exist_ok=True)
    # Six JIT compiler threads rather than the default three for four cores:
    # the kernel keeps getting faster for tens of seconds of full load while
    # the compilers work through its methods, and with more of them the
    # timed reps start closer to steady speed (first-to-last timed rep
    # drift about 15% instead of 40% on extract_longlists).
    cmd = [java_bin(), "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-XX:CICompilerCount=6",
           f"-Djava.io.tmpdir={TMP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "kgbench.Main",
            "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", str(OUT)]
    res = run(cmd, RUN_TIMEOUT_S, cwd=ROOT)
    if res is None:
        fail(f"{workload}: run exceeded {RUN_TIMEOUT_S} s", 4)
    code, out = res
    sys.stdout.write(out)
    sys.stdout.flush()
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    classpath = build()
    codes = [run_workload(classpath, args, w)
             for w in (WORKLOADS if args.workload == "all" else (args.workload,))]
    sys.exit(next((c for c in codes if c != 0), 0))


if __name__ == "__main__":
    main()
