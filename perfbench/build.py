#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's Scala sources (src/main/scala) together with the
benchmark's own (perfbench/src) into perfbench/.build/perfbench.jar, with the
Scala compiler and the Spark jars of the local Spark installation
($SPARK_HOME/jars, or the one `spark-submit` on PATH belongs to). The
program's runtime classpath is those same jars, so nothing is resolved from a
repository.

It then records a class-data sharing archive (perfbench.jsa) from one tiny
benchmark run: every later JVM maps the classes Spark loads at start instead
of parsing and verifying them again, which takes the JVM's class loading out
of each run's set-up time. A JVM that cannot use the archive runs without it.

    python3 perfbench/build.py

Rebuilds only when the content of a source file changed since the last build
(a digest of every source is kept beside the jar).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
DIGEST = os.path.join(BUILD, "sources.sha256")
WORK = os.path.join(HERE, ".work")
# Spark on JDK 17 outside spark-submit needs these (the launcher's defaults).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
HEAP = "2g"
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return exe


def jvm_command(work, bench_args, jvm_extra=()):
    """The JVM command line of one benchmark run with scratch under `work`."""
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           "-Xlog:disable", "-Xlog:all=warning:stderr"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in OPENS]
    cmd += [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby-home",
            f"-Dderby.stream.error.file={work}/derby.log",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.driver.host=localhost", "-Dspark.driver.bindAddress=127.0.0.1"]
    cmd += list(jvm_extra)
    cmd += ["-cp", os.pathsep.join([JAR, os.path.join(spark_jars(), "*")]),
            "perfbench.Bench", "--work", work] + list(bench_args)
    return cmd


def archive_options():
    return [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Compiles and records the class archive if a source changed."""
    missing = [d for d in SOURCE_DIRS if not os.path.isdir(d)]
    if missing:
        raise BuildError("missing source directories: " + ", ".join(missing))
    files = sources()
    want = digest(files)
    if os.path.exists(JAR) and os.path.exists(DIGEST):
        with open(DIGEST) as fh:
            if fh.read().strip() == want:
                return
    jars = spark_jars()
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("the Spark jars hold no Scala compiler")
    staging = os.path.join(BUILD, "classes")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    classpath = os.pathsep.join(
        os.path.join(jars, n) for n in sorted(os.listdir(jars)) if n.endswith(".jar"))
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", staging, "@" + argfile]
    if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("compilation failed")
    for f in (DIGEST, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as jar:
        for d, _, names in os.walk(staging):
            for n in sorted(names):
                f = os.path.join(d, n)
                jar.write(f, os.path.relpath(f, staging))
    os.rename(JAR + ".tmp", JAR)
    shutil.rmtree(staging, ignore_errors=True)
    record_archive(log)
    with open(DIGEST, "w") as fh:
        fh.write(want + "\n")


def record_archive(log):
    """Dumps the classes a tiny initial_load run loads into ARCHIVE."""
    print("[perfbench] recording the class archive", file=log, flush=True)
    work = os.path.join(WORK, f"archive-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", "initial_load", "--seed", "1", "--seconds", "0", "--trace", "0",
            "--scale", "0.01", "--warmup", "0", "--min-passes", "1",
            "--traces", os.path.join(work, "traces")]
    try:
        with open(os.path.join(BUILD, "archive.log"), "w") as out:
            ok = subprocess.run(jvm_command(work, args, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]),
                                stdout=out, stderr=out, timeout=600).returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not ok and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    if not ok:
        print("[perfbench] no class archive (see .build/archive.log); runs start slower",
              file=log)


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
