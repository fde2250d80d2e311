#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's `src/main/scala` together with `perfbench/src` with the
Scala 2.13 compiler that ships among the Spark jars (no sbt, no edit to
`build.sbt`), then writes the benchmark's fixture tables with
`perfbench.Gen`. Both outputs are cached under the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`) and keyed on the content of
their inputs, so a checkout builds once.

Usage: python3 perfbench/build.py     (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALA_VERSION = "2.13.17"

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution that ships the Scala compiler:
    $SPARK_HOME, else the first spark-submit on PATH that has one."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
            return jars
    raise BuildError(f"no Spark distribution with scala-compiler-{SCALA_VERSION}: set SPARK_HOME")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"no graft sources under {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return files


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def heap():
    """Half the box's memory, within 2-8 GB (the tier-1 test heap rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def jvm_options(tmp):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return opens + [
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        f"-Xmx{heap()}g",
        f"-XX:CICompilerCount={max(4, (os.cpu_count() or 4) // 4)}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
    ]


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def compile_classes():
    """Returns the classes directory, compiling if the sources changed."""
    srcs = sources()
    out = os.path.join(build_dir(), "classes-" + digest(srcs))
    if os.path.isdir(out):
        return out
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    staging = out + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                               for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", staging,
           "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    os.rename(staging, out)
    return out


def generate_data(classes):
    """Returns the fixture directory, writing the tables if missing."""
    gen = os.path.join(HERE, "src", "Gen.scala")
    out = os.path.join(build_dir(), "data-" + digest([gen]), "sf0.1")
    if os.path.isdir(out):
        return out
    for old in glob.glob(os.path.join(build_dir(), "data-*")):
        shutil.rmtree(old, ignore_errors=True)
    staging = out + ".tmp"
    tmp = os.path.join(build_dir(), "gen-tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java"] + jvm_options(tmp) + ["-cp", classpath(classes), "perfbench.Gen",
                                         staging, str(os.cpu_count() or 4)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       env=env, cwd=ROOT)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("fixture generation failed:\n" + r.stdout[-4000:])
    os.rename(staging, out)
    return out


def build():
    """Returns (classes directory, fixture directory)."""
    classes = compile_classes()
    return classes, generate_data(classes)


if __name__ == "__main__":
    try:
        print(*build(), sep="\n")
    except BuildError as e:
        sys.exit(str(e))
