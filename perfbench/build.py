"""Build file of the benchmark: compiles the engine and the benchmark harness.

The engine sources (src/main/scala) and the harness (perfbench/scala) are
compiled together with the Scala compiler that ships in Spark's jar
directory, into `<build dir>/classes`. A stamp of the sources' digest skips
the compile when nothing changed. Spark is found through SPARK_HOME, or
through `spark-submit` on the PATH.

Usage: python3 perfbench/build.py [build dir]   (default: .bench_build)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "scala")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler in {jars}")
    return os.path.join(jars, "*")


def sources():
    files = []
    for root in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(out_root=None):
    """Compile if the sources changed; return the runtime classpath."""
    out_root = out_root or build_dir()
    jars = spark_jars()
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}")
    files = sources()
    stamp_path = os.path.join(out_root, "classes.stamp")
    classes = os.path.join(out_root, "classes")
    want = digest(files)
    if os.path.exists(stamp_path) and open(stamp_path).read() == want:
        return classes + os.pathsep + jars
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out_root, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("benchmark build failed")
    with open(stamp_path, "w") as fh:
        fh.write(want)
    return classes + os.pathsep + jars


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else None))
