#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala of the checkout) together
with the benchmark's own sources (perfbench/src) into
perfbench/target/perfbench.jar, with the Scala compiler and the Spark jars
of the Spark install ($SPARK_HOME, else the one `spark-submit` on PATH
belongs to). Nothing is downloaded. Then one training run (perfbench.Train)
writes a class-data-sharing archive of every class the benchmark loads,
perfbench/target/classes.jsa, which every run maps (`-Xshare:on`: a run
that cannot map it fails) instead of loading the Spark classes again. A
failed training run fails the build. A build is skipped when a stamp of
every source file and the compiler matches the last build's.

    python3 perfbench/build.py      # prints the jar
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
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
JAR = os.path.join(TARGET, "perfbench.jar")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
STAMP = os.path.join(TARGET, "build.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


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
        raise BuildError("no Spark install found: set SPARK_HOME")
    return jars


def classpath():
    """Runtime classpath: the benchmark jar, then every Spark jar. Jars
    only: a class-data-sharing archive cannot cover a directory."""
    return os.pathsep.join([JAR] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar"))))


# Spark on JDK 17 outside spark-submit needs these (the same list the
# program's build.sbt passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jvm(work, archive_flags):
    """JVM options of a Spark run whose temporary files stay under work."""
    opts = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xlog:all=warning:stderr"] + archive_flags + [
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            "-Dspark.ui.enabled=false", "-Dspark.driver.host=localhost",
            "-Dspark.driver.bindAddress=127.0.0.1"]
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts


def run_flags():
    """Archive flags of a run: the training archive must be mapped."""
    if not os.path.exists(ARCHIVE):
        raise BuildError(f"class archive missing: {ARCHIVE}")
    return ["-Xshare:on", f"-XX:SharedArchiveFile={ARCHIVE}"]


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found: {PROGRAM_SRC}")
    found = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        found += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return found


def compiler_jars(jars):
    out = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = sorted(glob.glob(os.path.join(jars, f"{name}-2.13*.jar")))
        if not hits:
            raise BuildError(f"{name} jar not found in {jars}")
        out.append(hits[-1])
    return out


def build():
    jars = spark_jars()
    comp = compiler_jars(jars)
    srcs = sources()
    h = hashlib.sha256()
    for p in comp + srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.exists(ARCHIVE):
        return JAR
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", cp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise BuildError("compilation failed")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(CLASSES):
            for n in sorted(files):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, CLASSES))
    train()
    with open(STAMP, "w") as f:
        f.write(stamp)
    return JAR


def train():
    """Writes the class-data-sharing archive."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(TARGET, "train")
    shutil.rmtree(work, ignore_errors=True)
    cmd = ["java"] + spark_jvm(work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + \
        ["-cp", classpath(), "perfbench.Train", work]
    print("[perfbench] training the class archive", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=ROOT)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BuildError("class archive training failed")
    if not os.path.exists(ARCHIVE):
        raise BuildError("class archive training wrote no archive")


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
