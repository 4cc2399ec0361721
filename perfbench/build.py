"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the harness (`perfbench/harness`) with the
Scala compiler that ships in Spark's jar directory, so the benchmark needs
neither sbt nor a dependency cache, and writes nothing outside the checkout.

    python3 perfbench/build.py        # prints the classes directory

Output goes to `.bench_build/classes-<hash of all sources>`; an unchanged
tree reuses the last build.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else next to `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
            return jars
    raise BuildError("no Spark jar directory with a Scala compiler found; set SPARK_HOME")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not prog:
        raise BuildError("program sources (src/main/scala) are missing: run from a full checkout")
    return prog + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build():
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs + [os.path.basename(j) for j in jars]:
        h.update(os.path.relpath(s, ROOT).encode())
        if os.path.isfile(s):
            with open(s, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(jars), "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".done"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
