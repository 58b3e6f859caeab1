"""The benchmark's build: compiles the repository's library and the
benchmark driver with the Scala compiler that ships among the Spark jars.

    python3 perfbench/build.py

It reads the sources and the Spark jars and writes only under
perfbench/target/, so a build needs no sbt launcher, dependency cache or
home directory. A later call reuses the classes until a source changes.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "classes.stamp")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
BUILD_TIMEOUT_S = 600

# What Spark 4 on JDK 17 needs when a SparkSession starts outside
# spark-submit; the list of org.apache.spark.launcher.JavaModuleOptions.
JVM_OPTS = [o for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for o in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.sql.session.timeZone=UTC"]


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    """The jar directory the root build compiles against (its
    unmanagedBase); it holds the Scala compiler too."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        raise BuildError("the root build.sbt names no jar directory with a Scala compiler")
    return m.group(1)


def sources():
    return sorted(os.path.join(d, f) for r in SOURCES
                  for d, _, fs in os.walk(r) for f in fs if f.endswith(".scala"))


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile when a source changed since the last build; return the
    classpath and JVM options for the benchmark JVM."""
    jars = spark_jars()
    cp = os.pathsep.join([CLASSES, os.path.join(jars, "*")])
    files = sources()
    want = stamp(files, jars)
    if os.path.isfile(STAMP) and open(STAMP).read() == want:
        return cp, JVM_OPTS
    tmp = os.path.join(TARGET, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scratch = os.path.join(TARGET, "tmp")
    os.makedirs(scratch, exist_ok=True)
    t0 = time.time()
    r = subprocess.run(
        [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
         f"-Djava.io.tmpdir={scratch}", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, *files],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout.decode(errors="replace")[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(want)
    print(f"# built {len(files)} sources in {time.time() - t0:.1f} s")
    return cp, JVM_OPTS


if __name__ == "__main__":
    try:
        build()
    except (BuildError, OSError, subprocess.SubprocessError) as e:
        sys.exit(f"perfbench build: {e}")
