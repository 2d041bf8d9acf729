"""Build file of the benchmark package: compiles the program
(`src/main/scala`) and the benchmark harness (`perfbench/scala`) with
the Scala compiler that ships among Spark's jars, into
`perfbench/.work/build`. A build is reused while no source changed.

Spark's jars are found under `$SPARK_HOME/jars`, else at the
`unmanagedBase` the repository's `build.sbt` declares.

Usage: python3 perfbench/build.py
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
OUT = os.path.join(HERE, ".work", "build")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build: no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not prog or not bench:
        raise SystemExit("build: program or harness sources missing")
    return prog, bench


def scalac(jars, classpath, out, files):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"build: scalac failed for {out}")


def build():
    """Returns the run classpath, compiling first if any source changed."""
    jars = spark_jars()
    prog, bench = sources()
    h = hashlib.sha256(jars.encode())
    for f in prog + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()
    stamp = os.path.join(OUT, "stamp")
    cp = os.pathsep.join([os.path.join(OUT, "program"), os.path.join(OUT, "bench"),
                          os.path.join(HERE, "conf"), os.path.join(jars, "*")])
    if os.path.exists(stamp) and open(stamp).read() == key:
        return cp
    tmp = OUT + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    jar_cp = os.path.join(jars, "*")
    scalac(jars, jar_cp, os.path.join(tmp, "program"), prog)
    scalac(jars, os.pathsep.join([os.path.join(tmp, "program"), jar_cp]),
           os.path.join(tmp, "bench"), bench)
    with open(os.path.join(tmp, "stamp"), "w") as fh:
        fh.write(key)
    shutil.rmtree(OUT, ignore_errors=True)
    os.rename(tmp, OUT)
    return cp


if __name__ == "__main__":
    print(build())
