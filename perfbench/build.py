"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark client (perfbench/src) in one scalac pass.

The Scala compiler is taken from the Spark distribution the program
already links against, so the build needs no dependency resolution and
writes only under `.bench_build/` in the checkout. Classes are cached
by a digest of every source file; a changed source rebuilds.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the `unmanagedBase` that build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("build: no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(ROOT, "perfbench/src/*.scala")))


def build():
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, ".ok")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cp = os.path.join(jars, "*")
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + tmp, "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"build: scalac exited {r.returncode}")
        open(os.path.join(tmp, ".ok"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    resources = os.path.join(ROOT, "src/main/resources")
    return os.pathsep.join([out, resources, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build())
