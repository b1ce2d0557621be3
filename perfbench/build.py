"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the benchmark (`perfbench/src`) with the Scala compiler that ships
with Spark, straight into one class directory, with no build tool.

The output goes to `$CARGO_TARGET_DIR/perfbench` (default
`.bench_build/perfbench`) and is reused while a digest of every source
file and of the compiler is unchanged.

    python3 perfbench/build.py          # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def _spark_home():
    """$SPARK_HOME, else the Spark installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home or ""


SPARK_JARS = os.path.join(_spark_home(), "jars")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        out += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(out)


def scala_jars():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(SPARK_JARS, f"{name}-2.13*.jar")))
        if not found:
            raise SystemExit(f"perfbench: no {name} jar under {SPARK_JARS!r}"
                             " (set SPARK_HOME to the Spark installation)")
        jars.append(found[-1])
    return jars


def digest(root, files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build(root):
    """Return (class directory, source digest), compiling if needed."""
    files = sources(root)
    if not any(f.endswith("SparkEntry.scala") for f in files):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    jars = scala_jars()
    dig = digest(root, files, jars)
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    classes, stamp = os.path.join(out, "classes"), os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == dig:
        return classes, dig
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-6000:])
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(dig)
    return classes, dig


if __name__ == "__main__":
    print(build(os.getcwd())[0])
