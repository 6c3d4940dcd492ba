"""Build file of the benchmark package: compiles graft's sources
(`src/main/scala` at the repository root) together with the
benchmark's own Scala sources (`perfbench/scala`) with the Scala
compiler that ships in Spark's jar directory, into
`.bench_build/classes-<source digest>` at the repository root.

A build whose digest already exists is reused, so only the first run
in a checkout compiles. Run it directly to build:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]


def spark_jars():
    """Spark's jar directory, `$SPARK_HOME/jars`: graft's dependencies
    and the Scala compiler."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise SystemExit("build: no Spark jar directory; set SPARK_HOME")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        found += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return found


def classpath():
    return os.path.join(spark_jars(), "*")


def build():
    """Compile if needed; return the classes directory."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit(f"build: graft sources not found at {SOURCE_DIRS[0]}")
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "BUILD_OK")):
        return out
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    compiler = []
    for n in ("compiler", "library", "reflect"):
        jars = sorted(glob.glob(os.path.join(spark_jars(), f"scala-{n}-2.13.*.jar")))
        if not jars:
            raise SystemExit(f"build: no scala-{n} 2.13 jar in {spark_jars()}")
        compiler.append(jars[-1])
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath()] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build: scalac failed")
    open(os.path.join(out, "BUILD_OK"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
