"""Build step: compile graft's sources together with the harness.

The harness (harness/src) and graft (src/main/scala at the repository
root) are compiled in one scalac run against the Spark distribution's
jars, which also carry the Scala compiler. Classes go under
.bench_build/graftbench/<stamp>/classes, keyed by a hash of every source
file, so a checkout builds once and later runs reuse the classes.

    python3 e2ebench/build.py          # prints the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "graftbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with an installed pyspark."""
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not graft:
        raise BuildError("graft sources (src/main/scala) not found next to the benchmark")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "src", "**", "*.scala"),
                               recursive=True))
    return graft + harness


def build(log=sys.stderr):
    """Compile if needed; return (runtime classpath, source stamp)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()[:16]
    out = os.path.join(BUILD_DIR, stamp, "classes")
    classpath = out + os.pathsep + os.path.join(jars, "*")
    if os.path.isdir(out):
        return classpath, stamp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, stamp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print(f"[build] compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        print(proc.stdout[-4000:], file=log)
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    os.rename(tmp, out)
    return classpath, stamp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
