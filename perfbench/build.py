"""Build file of the benchmark package: compiles graft (src/main/scala) and
the benchmark sources (perfbench/src) into one class directory with the
Scala compiler shipped among Spark's jars. A stamp over every source file
skips the compile when nothing changed.

    python3 perfbench/build.py        # from the root of a checkout
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the repository build's
    unmanagedBase.
    """
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("build: no graft sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return main + bench


def classpath(root):
    """Runtime class path: the built classes, graft's resources, Spark."""
    out = os.path.join(root, BUILD_DIR, "classes")
    res = os.path.join(root, "src/main/resources")
    return f"{out}:{res}:{os.path.join(spark_jars(root), '*')}"


def build(root):
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_path = os.path.join(root, BUILD_DIR, "classes.stamp")
    out = os.path.join(root, BUILD_DIR, "classes")
    if os.path.exists(stamp_path) and open(stamp_path).read() == h.hexdigest():
        return classpath(root)
    compiler = [os.path.join(jars, f"scala-{p}-") for p in ("compiler", "library", "reflect")]
    compiler_cp = ":".join(g for p in compiler for g in glob.glob(p + "*.jar"))
    if os.path.exists(out):
        subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-cp", os.path.join(jars, "*"), "-d", out] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    with open(stamp_path, "w") as f:
        f.write(h.hexdigest())
    return classpath(root)


if __name__ == "__main__":
    print(build(os.getcwd()))
