"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's Scala harness (`perfbench/src`) into one class directory.

It calls the Scala compiler that ships among Spark's jars, on the same jars
the program builds against, so the build reads nothing but the source tree
and the Spark installation and writes only under `.bench_build/`. A stamp of
the sources' hash skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCES = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """The Spark installation's jar directory: `$SPARK_HOME/jars`, else the
    jars bundled with the `pyspark` package."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("build: no Spark jars with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources(root):
    found = []
    for d in SOURCES:
        top = os.path.join(root, d)
        if not os.path.isdir(top):
            raise SystemExit(f"build: missing source directory {d}")
        for dirpath, _, files in os.walk(top):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root="."):
    """Compiles if the sources changed; returns the class directory."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
