"""Build file of the flow benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark harness (perfbench/src)
with the Scala compiler that ships in Spark's jars directory, into
$CARGO_TARGET_DIR (default .bench_build) under the current checkout.
A content stamp skips the compile when no source changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """$SPARK_HOME/jars, else the jars directory the sbt build declares
    (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


def sources(root):
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                             recursive=True))
    return srcs


def build(root):
    """Returns the classes directory, compiling first when stale."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit(f"perfbench: no engine sources under {root}/src/main/scala")
    jars = spark_jars(root)
    out_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(out_root, f"classes-{stamp}")
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    # drop stale builds, then publish atomically
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
