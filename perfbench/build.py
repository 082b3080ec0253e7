#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library (src/main/scala) together with the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in Spark's
jars directory, into .bench_build/perfbench/classes. A stamp of every
source file's content decides whether a build is needed, so only the
first run in a checkout pays for it.

Usage: python3 perfbench/build.py        (from the checkout root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the root build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


# Spark 4 on JDK 17 needs these when the session starts outside
# spark-submit; the list matches javaOptions in the root build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not src:
        raise SystemExit("perfbench: no library sources under src/main/scala; "
                         "run from a checkout of the repository")
    return src + bench


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Runtime class path: compiled classes, library resources, Spark."""
    return os.pathsep.join([os.path.join(OUT, "classes"),
                            os.path.join(ROOT, "src/main/resources"),
                            os.path.join(spark_jars(), "*")])


def java_opts():
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    return ["-XX:-UsePerfData"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]


def ensure():
    """Build unless the classes match the sources. Returns the source stamp."""
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return want
    tmp = OUT + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-deprecation:false",
           "-d", os.path.join(tmp, "classes"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    with open(os.path.join(tmp, "stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(OUT, ignore_errors=True)
    os.rename(tmp, OUT)
    return want


if __name__ == "__main__":
    print(ensure())
