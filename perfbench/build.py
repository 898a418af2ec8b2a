"""Build file of the benchmark: compiles graft's sources (`src/main`)
together with the benchmark runner (`perfbench/src`) with the Scala
compiler that ships in the Spark distribution, into `.bench_build/`.

A build is reused while the hash of every compiled source is unchanged.
Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.sha256")

# what Spark's launcher passes to a JDK 17 application
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                           recursive=True))
    if not lib:
        raise BuildError("graft sources (src/main/scala) not found under "
                         + ROOT)
    return lib + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                                  recursive=True))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure():
    """Compile if the stamp does not match the sources; return
    (classpath, source hash)."""
    files = sources()
    jars = spark_jars()
    digest = source_hash(files)
    cp = os.pathsep.join([CLASSES, os.path.join(jars, "*")])
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return cp, digest
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    # the compiler reads its arguments from a file: the list is long
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
         "-d", CLASSES, "-classpath", os.path.join(jars, "*"), "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    resources = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest)
    return cp, digest


if __name__ == "__main__":
    try:
        print(ensure()[0])
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
