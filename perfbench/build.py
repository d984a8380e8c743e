"""Builds the engine and the benchmark harness into one class directory.

The engine's sources (src/main/scala of the checkout) and the harness
(perfbench/src) are compiled together with the Scala compiler that ships
in the Spark distribution's jars directory ($SPARK_HOME, or the Spark on
PATH). The output is cached under .bench_build/perfbench, keyed by a
hash of every source file, so only the first run of a checkout builds.

    python3 perfbench/build.py      # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return home


def java():
    jh = os.environ.get("JAVA_HOME")
    exe = os.path.join(jh, "bin", "java") if jh else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return exe


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no engine sources under {os.path.relpath(engine, ROOT)}")
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_home(), "jars", "*")])


def ensure(log=sys.stderr):
    """Returns the class directory, compiling first if the sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(WORK, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = os.path.join(spark_home(), "jars")
    tools = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, f"{name}-2.13*.jar")))
        if not found:
            raise BuildError(f"{name} 2.13 jar not found in the Spark jars")
        tools.append(found[-1])
    os.makedirs(WORK, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[build] compiling {len(srcs)} files", file=log, flush=True)
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(tools),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    for old in glob.glob(os.path.join(WORK, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
