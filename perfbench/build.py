"""Build file of the benchmark package: compiles the library sources
(``src/main/scala``) together with the benchmark harness (``perfbench/src``)
with the Scala compiler that ships in the Spark distribution and packs them
into ``.bench_build/graftbench.jar``. A content stamp skips the compile
when no source changed since the last build.

Usage: python3 perfbench/build.py      (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "graftbench.jar")


def spark_jars() -> str:
    """The Spark jar directory the project's own build compiles against
    (``unmanagedBase`` in build.sbt), unless SPARK_HOME names another."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read()) \
        if os.path.exists("build.sbt") else None
    if not m:
        raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def sources() -> list:
    lib = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    own = sorted(glob.glob("perfbench/src/*.scala"))
    if not lib or not own:
        raise SystemExit("build: library or harness sources not found "
                         "(run from the repository root)")
    return lib + own


def build() -> str:
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "jar.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(JAR):
        return JAR
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at {jars}")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    if os.path.exists(JAR):
        os.remove(JAR)
    subprocess.run(["jar", "cf", os.path.abspath(JAR), "-C", CLASSES, "."], check=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return JAR


if __name__ == "__main__":
    print(build())
