"""Build the engine and the benchmark driver from source.

Compiles the engine's sources (`src/main/scala` at the checkout root)
together with `perfbench/src` using the Scala compiler that ships
among Spark's jars, into `<build root>/perfbench-<source hash>/classes`.
A build whose source hash already has its classes is reused.

The build root is `$CARGO_TARGET_DIR` when set, else `.bench_build`,
relative to the checkout root.

Usage: python3 perfbench/build.py   (prints the classpath)
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
    """Spark's jar directory: $SPARK_HOME/jars, else the engine build's
    `unmanagedBase`, else the jars bundled with pyspark."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jars with a Scala compiler found")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit("perfbench: engine sources not found at src/main/scala")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        for dp, _, fs in os.walk(base):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def build():
    """Compile if needed; return the runtime classpath."""
    jars_dir = spark_jars()
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + jars:
        h.update(os.path.relpath(f, ROOT).encode())
        if f.endswith(".scala"):
            h.update(open(f, "rb").read())
    out = os.path.join(build_root(), "perfbench-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if not os.path.isdir(classes):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "classes"))
        cp = os.pathsep.join(jars)
        # no hsperfdata in /tmp, temp files inside the build directory
        cmd = ["java", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-Xss8m",
               "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", os.path.join(tmp, "classes"), "-classpath", cp] + srcs
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit("perfbench: compile failed")
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return os.pathsep.join([classes] + jars)


if __name__ == "__main__":
    print(build())
