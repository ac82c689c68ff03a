#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/src) using the Scala compiler that ships in
Spark's jars, into .bench_build/classes under the repository root. A
build is skipped when the sources hash to the stamp of the last one.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"

# what build.sbt's forked `run` passes: Spark 4 on JDK 17 outside
# spark-submit needs these module openings
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("graftbench: Spark jars not found "
                         "(set SPARK_HOME or put spark-submit on PATH)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files
                      if f.endswith(".scala")]
    return sorted(found)


def classpath():
    return os.pathsep.join([os.path.join(BUILD, "classes"), RESOURCES,
                            os.path.join(spark_jars(), "*")])


def build():
    """Compile if the sources changed since the last build; returns the
    classpath to run with."""
    srcs = sources()
    if not any(s.startswith("src/") for s in srcs):
        raise SystemExit("graftbench: no engine sources under src/main/scala "
                         "(run from the repository root)")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if (os.path.isdir(os.path.join(BUILD, "classes")) and
            os.path.exists(stamp_file) and
            open(stamp_file).read() == h.hexdigest()):
        return classpath()
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    print(f"graftbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run([java(), "-Xss16m", "-Xmx3g", "-cp", jars,
                    "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                    "-classpath", jars, "@" + args_file], check=True)
    shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
    os.rename(tmp, os.path.join(BUILD, "classes"))
    with open(stamp_file, "w") as f:
        f.write(h.hexdigest())
    return classpath()


def jvm_env():
    """Spark takes its scratch directories from SPARK_LOCAL_DIRS before any
    setting: point it inside the build directory."""
    return dict(os.environ,
                SPARK_LOCAL_DIRS=os.path.abspath(
                    os.path.join(BUILD, "spark-local")))


def jvm_command(main, args):
    """The forked-run JVM of build.sbt (no UI, UTC, ParallelGC) with its
    temporary directory inside the build directory; run it with
    jvm_env()."""
    scratch = os.path.abspath(BUILD)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return [java(), *opens, "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={scratch}/tmp",
            f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
            "-Dlog4j2.configurationFile=perfbench/log4j2.properties",
            "-cp", classpath(), main, *args]


if __name__ == "__main__":
    build()
