"""Builds the engine and the benchmark client from source.

Compiles the engine's `src/main/scala` together with `perfbench/src` with
the Scala compiler that ships in Spark's own jar directory (the same jars
the engine's sbt build compiles against), into a directory keyed by a
digest of every source file. A tree that is already built is reused.

Usage: python3 perfbench/build.py   (from the root of the repository)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
OUT = ".bench_build"

# Spark on JDK 17 outside spark-submit (same list as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def _sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources missing: {ENGINE_SRC}")
    found = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Returns the classpath of the built tree, compiling it if needed."""
    srcs = _sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()[:16]
    jars = spark_jars()
    classes = os.path.join(OUT, f"classes-{digest}")
    classpath = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(os.path.join(classes, ".done")):
        return classpath, digest
    os.makedirs(OUT, exist_ok=True)
    for old in os.listdir(OUT):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(OUT, old))
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-cp", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    os.rename(tmp, classes)
    open(os.path.join(classes, ".done"), "w").close()
    return classpath, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
