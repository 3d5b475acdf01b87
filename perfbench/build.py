"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with
the Scala compiler that ships with Spark, into .bench_build/perfbench.

Usage, from the root of the repository:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

SRC_DIRS = ["src/main/scala", "perfbench/src"]
OUT = os.path.join(".bench_build", "perfbench")
SCALA = "2.13.17"


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory beside a bin directory on
    PATH that holds Spark's Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.abspath(d)) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.exists(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
            return jars
    raise SystemExit("perfbench build: no Spark jars found; set SPARK_HOME")


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def sources(root):
    files = []
    for d in SRC_DIRS:
        top = os.path.join(root, d)
        if not os.path.isdir(top):
            raise SystemExit(f"perfbench build: missing source directory {d}")
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root):
    """Compile if any source changed; return the classes directory."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(root, OUT)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes
    staging = os.path.join(out, f"classes.{os.getpid()}")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    jars = spark_jars()
    compiler = os.pathsep.join(
        os.path.join(jars, f"scala-{m}-{SCALA}.jar") for m in ("compiler", "library", "reflect"))
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", compiler, "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", staging] + files
    r = subprocess.run(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit(f"perfbench build: scalac exited {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
