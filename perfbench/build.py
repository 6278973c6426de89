"""Build file of the benchmark package.

Compiles the engine's main sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) into one class directory, with
the Scala compiler that ships in Spark's jar directory. A stamp over the
sources' paths and contents makes a rebuild a no-op when nothing changed.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else that of the first
    Spark installation whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.get_exec_path()
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        d = os.path.join(home, "jars")
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + bench


def build(root, out):
    """Compile into `out`/classes unless its stamp matches; return that path."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = classes + ".stamp"
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build", "perfbench")))
