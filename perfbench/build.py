"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/scala`) into `.bench_build/classes`
with the Scala compiler that ships in Spark's jar directory — no sbt,
no network, nothing written outside the checkout.

    python3 perfbench/build.py          # run from the repository root

A stamp over every source file's bytes skips the compile when nothing
changed. Spark's jars come from `$SPARK_HOME/jars`, else from the jar
directory the sbt build names as its `unmanagedBase`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
        jar_dir = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars in '{jar_dir}' (set SPARK_HOME)")
    return jars


def source_files(root=ROOT):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"build: engine sources not found at {engine}")
    files = []
    for base in (engine, os.path.join(root, "perfbench", "scala")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure_built(work_dir, log=sys.stderr):
    """Return the classes directory, compiling first if sources changed."""
    files = source_files()
    st = stamp(files)
    classes = os.path.join(work_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == st:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(spark_jars())
    args_file = os.path.join(work_dir, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    print(f"build: compiling {len(files)} sources", file=log)
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        print(proc.stdout[-4000:], file=log)
        raise SystemExit("build: compile failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(st)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes


if __name__ == "__main__":
    work = os.path.join(ROOT, ".bench_build")
    os.makedirs(work, exist_ok=True)
    print(ensure_built(work))
