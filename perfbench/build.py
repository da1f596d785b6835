"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) into .bench_build/classes-<digest>/ with the
Scala compiler that ships in Spark's jars directory. A build is reused
while the digest of every source file is unchanged.

Usage: python3 perfbench/build.py   (prints the class directory)
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


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("perfbench: Spark not found (set SPARK_HOME)")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not prog:
        sys.exit("perfbench: program sources (src/main/scala) not found")
    return prog + bench


def build():
    """Return the class directory, compiling first if sources changed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout[-20000:])
        sys.exit("perfbench: compile failed")
    open(os.path.join(out, "BUILD_OK"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
