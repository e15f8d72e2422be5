"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's JVM side (perfbench/scala) into one class directory.

    python3 perfbench/build.py [--out .bench_build]

The compiler and every library come from the Spark distribution
(`$SPARK_HOME/jars`, default /opt/spark/jars), so the build needs no
network and writes nothing outside `--out`. A stamp of the source hashes
skips the compile when nothing changed.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark distribution with a Scala compiler at {jars}")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: program sources not found at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    resources = os.path.join(root, "src", "main", "resources")
    files += sorted(f for f in glob.glob(os.path.join(resources, "**", "*"), recursive=True)
                    if os.path.isfile(f))
    return files


def build(root, out):
    """Compile if needed; returns the class directory."""
    files = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + [f for f in files if f.endswith(".scala")]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    # resources ride on the class path next to the classes, as in a jar
    resources = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=".bench_build")
    a = ap.parse_args()
    print(build(os.getcwd(), os.path.abspath(a.out)))
