"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/classes, using the
Scala compiler that ships in Spark's jar directory ($SPARK_HOME/jars, or
the one beside `spark-submit` on PATH) -- the same jars the engine's
build.sbt compiles against. The build is skipped when a stamp of every
source file matches the last build. Run it alone with
`python3 perfbench/build.py`.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Return the classes directory, compiling first if it is stale."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")
    files = sources()
    want = stamp(files)
    if os.path.isfile(STAMP) and open(STAMP).read() == want and os.path.isdir(CLASSES):
        return CLASSES
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = [java(), "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main", "-d", tmp, "-classpath", jars, "-nowarn", "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"compile failed (exit {r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return CLASSES


if __name__ == "__main__":
    print(build())
