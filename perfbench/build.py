#!/usr/bin/env python3
"""Build file of the daemon benchmark.

Compiles the program (`src/main/scala`) and the benchmark
(`perfbench/src/graftbench`) with the Scala compiler that ships in the
Spark distribution ($SPARK_HOME, else the jar directory that build.sbt
names), into `.bench_build/classes-<hash>/`, where `<hash>` covers every
source file and this script. A finished build is reused, so only the first
run in a checkout compiles; every run then starts `java` on the fixed
classpath `main:bench:<spark>/jars/*`.

Usage: python3 perfbench/build.py   (prints the classpath)
"""
import hashlib
import os
import re
import subprocess
import sys

BUILD = ".bench_build"
MAIN_SRC = "src/main/scala"
BENCH_SRC = "perfbench/src"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit("build: no Spark jars found; set SPARK_HOME")
    return jars


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(dest, files, cp):
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars() + "/*",
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", cp, "-d", dest] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit("build failed: scalac exit %d" % r.returncode)


def build():
    """Compiles if needed and returns the runtime classpath."""
    main, bench = sources(MAIN_SRC), sources(BENCH_SRC)
    if not main or not bench:
        raise SystemExit("build: %s or %s has no sources; run from the repository root"
                         % (MAIN_SRC, BENCH_SRC))
    h = hashlib.sha256()
    for f in main + bench + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.abspath(os.path.join(BUILD, "classes-" + h.hexdigest()[:16]))
    cp_main, cp_bench = os.path.join(out, "main"), os.path.join(out, "bench")
    if not os.path.exists(os.path.join(out, "ok")):
        scalac(cp_main, main, "")
        scalac(cp_bench, bench, cp_main)
        open(os.path.join(out, "ok"), "w").close()
    return ":".join([cp_main, cp_bench, spark_jars() + "/*"])


if __name__ == "__main__":
    print(build())
