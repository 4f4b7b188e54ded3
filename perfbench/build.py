"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
JVM harness (perfbench/src) with the Scala compiler that ships in Spark's
jar directory, into .bench_build/perfbench/classes. A content hash of every
source file is kept beside the classes, so a checkout builds once.

    python3 perfbench/build.py        # build if the sources changed
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found: {PROGRAM_SRC}")
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HARNESS_SRC, "*.scala")))
    if not files:
        raise BuildError("no Scala sources to compile")
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    parts = [CLASSES]
    if os.path.isdir(PROGRAM_RES):
        parts.append(PROGRAM_RES)
    parts.append(os.path.join(spark_jars(), "*"))
    return os.pathsep.join(parts)


def build(log=sys.stderr):
    """Compiles when the sources changed; returns the build stamp."""
    files = sources()
    jars = spark_jars()
    s = stamp(files)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == s:
        return s
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss4m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", cp, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log)
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=850)
    except subprocess.TimeoutExpired:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise BuildError("compile overran 850 s")
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(s)
    return s


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
