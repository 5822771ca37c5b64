#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine
(src/main/scala of the checkout) together with perfbench/src into
.bench_build/perfbench/classes, using the Scala compiler that ships among
the Spark jars. A build whose sources and jars are unchanged is reused.

usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_TIMEOUT_S = 600


def spark_jars(root):
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    unmanagedBase that the repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("error: no Spark jars found (set SPARK_HOME)")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("error: no engine sources under src/main/scala — "
                         "run from the root of a checkout")
    return engine + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def build(root):
    """Returns the classes directory, compiling when the stamp is stale."""
    jars = spark_jars(root)
    srcs = sources(root)
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    h = hashlib.sha256(jars.encode())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes, jars
    compiler = [glob.glob(os.path.join(jars, f"scala-{k}-2.13*.jar"))
                for k in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit(f"error: no Scala 2.13 compiler among {jars}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss16m", "-Xmx2g",
           "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"error: compilation failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


if __name__ == "__main__":
    print(build(os.getcwd())[0])
