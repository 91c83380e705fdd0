"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) with the Scala compiler that
ships in Spark's jars, into one classes directory.

The directory is keyed by a digest of every source file, so an unchanged
tree is not rebuilt. It lives under $CARGO_TARGET_DIR if that is set,
else under .bench_build, relative to the repository root.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else beside the first `spark-submit`
    on PATH that has them."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars", "*")
    raise RuntimeError("Spark's jars not found: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build(root):
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(BENCH, "harness", "*.scala")))
    if not program:
        raise RuntimeError(f"no program sources under {root}/src/main/scala")
    digest = hashlib.sha256()
    for f in program + harness:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = os.path.join(out, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
           "-cp", spark_jars(), "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", spark_jars()] + program + harness
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compile failed:\n" + proc.stdout[-4000:])
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except RuntimeError as e:
        sys.exit(str(e))
