"""Build file of the benchmark: compiles the program (src/main/scala, plus
src/main/resources) together with the benchmark's JVM harness
(perfbench/scala) into one class directory, with the Scala compiler that
ships in Spark's jars.

    python3 perfbench/build.py      # from the repository root; prints the directory

The directory is keyed by a hash of the sources, under
.bench_build/perfbench, so a second build of the same sources is free.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(".bench_build", "perfbench")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def build():
    """Compile, unless a class directory for these sources exists; return
    its path."""
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        fail("no src/main/scala under the current directory: run from the "
             "repository root")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                             recursive=True))
    res = sorted(p for p in glob.glob("src/main/resources/**", recursive=True)
                 if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(WORK, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    os.makedirs(WORK, exist_ok=True)
    for old in glob.glob(os.path.join(WORK, "classes-*")):
        shutil.rmtree(old)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp",
           os.path.join(spark_home(), "jars", "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        print(p.stdout[-4000:], file=sys.stderr)
        shutil.rmtree(tmp)
        fail("build failed")
    for r in res:
        dst = os.path.join(tmp, os.path.relpath(r, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(r, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
