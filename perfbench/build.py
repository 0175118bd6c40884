"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in Spark's jars.

The classes land in <build dir>/perfbench/classes-<hash>, where the hash
covers every source file, so an unchanged tree is compiled once. The build
dir is $CARGO_TARGET_DIR when set (relative paths resolve against the
checkout root), else .bench_build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the first jars/ beside
    a spark-submit on PATH that holds the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("perfbench: no Spark jars with a Scala compiler found; set SPARK_HOME")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    d = d if os.path.isabs(d) else os.path.join(ROOT, d)
    return os.path.join(d, "perfbench")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        sys.exit("perfbench: no engine sources under src/main/scala; run from a checkout root")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + harness


def ensure():
    """Return the classes directory, compiling first when sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out, jars
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    comp = [glob.glob(os.path.join(jars, "scala-%s-*.jar" % m))[0]
            for m in ("compiler", "library", "reflect")]
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*")] + srcs
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compilation failed")
    os.replace(tmp, out)
    open(os.path.join(out, ".complete"), "w").close()
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        if old != out and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return out, jars


if __name__ == "__main__":
    print(ensure()[0])
