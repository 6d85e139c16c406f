"""Build file of the benchmark.

Compiles the engine (`src/main/scala`) and the benchmark driver
(`perfbench/scala`) into `.bench_build/classes` with the Scala compiler
that ships in the Spark distribution's jars. The build is skipped when
the stamp (a SHA-256 over every source file and the compiler jar name)
matches the last one.

    python3 perfbench/build.py        # from the root of the checkout
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
BUILD_DIR = ".bench_build"
SOURCE_DIRS = ("src/main/scala", "perfbench/scala")


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        raise SystemExit(f"build: no Scala compiler among the jars in {SPARK_JARS}")
    return jars


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise SystemExit(f"build: source directory {d} is missing")
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root="."):
    """Compile if needed; return the runtime classpath as a list."""
    jars = spark_classpath()
    srcs = sources(root)
    h = hashlib.sha256()
    for j in jars:
        if "scala-compiler" in j:
            h.update(os.path.basename(j).encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if not (os.path.isdir(classes) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        staging = os.path.join(out, "classes.new")
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        cp = os.pathsep.join(jars)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", staging, "-classpath", cp] + srcs
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit("build: scalac failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(staging, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return [os.path.abspath(classes)] + jars, stamp


if __name__ == "__main__":
    cp, stamp = build(".")
    print(f"built {stamp[:12]} -> {BUILD_DIR}/classes")
