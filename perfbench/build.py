#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala` at the repository root) together with the benchmark's own
(`perfbench/src`) with the Scala compiler that ships in Spark's jars, into
`perfbench/.build/classes`. A rebuild happens only when a source changes.

Usage: python3 perfbench/build.py   (prints the classpath to run with)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        sys.exit(f"perfbench: engine sources not found under {ROOT}")
    out = []
    for top in (engine, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Returns the runtime classpath, compiling first if sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp):
        tmp = os.path.join(BUILD, "classes.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.path.join(jars, "*")
        jtmp = os.path.join(BUILD, "tmp")
        os.makedirs(jtmp, exist_ok=True)
        r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
                            f"-Djava.io.tmpdir={jtmp}", "-cp", cp,
                            "scala.tools.nsc.Main", "-classpath", cp, "-d", tmp,
                            "-nowarn", "@" + argfile], stdout=sys.stderr)
        if r.returncode != 0:
            sys.exit("perfbench: compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(build())
