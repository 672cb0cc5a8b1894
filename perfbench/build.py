"""Build file of the benchmark package.

Compiles graft's main sources (`src/main/scala`) together with the
benchmark's own Scala sources (`perfbench/scala`) with the Scala
compiler that ships among Spark's jars, against those same jars. No
sbt, no dependency resolution, no network. Classes land in
`perfbench/.build/classes-<hash>`, keyed by a hash of every source and
the JDK version, so an unchanged tree is built once.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the jars next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        raise RuntimeError("set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(home, "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise RuntimeError(f"no graft sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    return main + bench


def java_version():
    out = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return out.stderr.strip()


def scala_jar(name):
    found = sorted(glob.glob(os.path.join(spark_jars(), f"{name}-2.13*.jar")))
    if not found:
        raise RuntimeError(f"{name} jar not found in {spark_jars()}")
    return found[-1]


def build(log=sys.stderr):
    """Return (classes_dir, seconds spent compiling; 0 when cached)."""
    srcs = sources()
    h = hashlib.sha256(java_version().encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out, 0.0
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = os.path.join(BUILD, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    compiler_cp = os.pathsep.join(scala_jar(n) for n in ("scala-compiler", "scala-library", "scala-reflect"))
    argfile = os.path.join(BUILD, f"sources-{os.getpid()}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    try:
        proc = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", compiler_cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", os.path.join(spark_jars(), "*"), "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    finally:
        os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        log.write(proc.stdout[-6000:])
        raise RuntimeError("scalac failed")
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build of the same sources finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return out, time.time() - t0


if __name__ == "__main__":
    classes, secs = build()
    print(classes)
    print(f"build_s {secs:.1f}", file=sys.stderr)
