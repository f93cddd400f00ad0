#!/usr/bin/env python3
"""Build and run the loader benchmark.

    python3 loadbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program
(src/main/scala) together with the harness (loadbench/src) with sbt,
offline, against the Spark distribution's jars, and caches the classpath
under loadbench/target; later runs rebuild only when a source changed.
The JVM runs with its working files under loadbench/work. The last line
of standard output is the JSON result the harness prints.

With --record it writes loadbench/slice_expected.tsv from the slice
workload instead of measuring. The JVM is killed after
LOADBENCH_JAVA_TIMEOUT_S seconds (default 170).
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
CP_FILE = os.path.join(TARGET, "loadbench.classpath")
STAMP_FILE = os.path.join(TARGET, "loadbench.stamp")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

JAVA_TIMEOUT_S = int(os.environ.get("LOADBENCH_JAVA_TIMEOUT_S", "170"))
BUILD_TIMEOUT_S = 800


def spark_jars():
    """$SPARK_JARS, else the jars of $SPARK_HOME or of the spark-submit on PATH."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        sys.exit("loadbench: set SPARK_HOME or SPARK_JARS to a Spark distribution")
    return os.path.join(home, "jars")


def source_stamp():
    """Hash of the path, size and mtime of every build input."""
    h = hashlib.sha256()
    roots = [PROGRAM_SOURCES, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    stamp = source_stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS=spark_jars())
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
        timeout=BUILD_TIMEOUT_S, text=True)
    sys.stderr.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.exit(f"loadbench: build failed (sbt exit {out.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)


def main(argv):
    if not os.path.isdir(PROGRAM_SOURCES):
        sys.exit(f"loadbench: no program sources at {os.path.relpath(PROGRAM_SOURCES)}; "
                 "run from the root of a full checkout")
    build()
    with open(CP_FILE) as f:
        classpath = f.read()

    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.stream.error.file={WORK}/derby.log",
           "-cp", classpath, "loadbench.Main", *argv, "--work", WORK, "--bench-dir", HERE]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"loadbench: run exceeded {JAVA_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
