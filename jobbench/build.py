"""Build file of the job benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`jobbench/src`) with the
Scala compiler that ships in the Spark distribution, against the same Spark
jars the program's sbt build uses. No network, no sbt.

The classes land in `<build dir>/classes`; a stamp of every source's content
skips the compile when nothing changed.

    python3 jobbench/build.py [--build-dir DIR]
"""

import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else those of the
    first `spark-submit` on PATH whose distribution ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-2.13*.jar")):
            return os.path.join(home, "jars")
    raise FileNotFoundError("no Spark distribution with a Scala 2.13 compiler found; "
                            "set SPARK_HOME")


def default_build_dir():
    return os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))


def sources():
    """Every Scala source the benchmark needs; raises if the program's tree is
    absent (the benchmark cannot run without the program)."""
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise FileNotFoundError("program sources not found: %s" % prog)
    out = []
    for base in (prog, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _jar(prefix):
    jars = spark_jars()
    hits = sorted(glob.glob(os.path.join(jars, prefix + "-2.13*.jar")))
    if not hits:
        raise FileNotFoundError("%s jar not found in %s" % (prefix, jars))
    return hits[-1]


def _stamp(srcs):
    h = hashlib.sha256()
    h.update(_jar("scala-compiler").encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(build_dir):
    return os.path.join(build_dir, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build(build_dir):
    """Compile if the sources changed since the last build; returns the
    runtime classpath."""
    srcs = sources()
    stamp = _stamp(srcs)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classpath(build_dir)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(_jar(j) for j in
                               ("scala-compiler", "scala-library", "scala-reflect"))
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(spark_jars(), "*"), "-d", tmp, "@" + argfile]
    print("jobbench: compiling %d sources" % len(srcs), file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classpath(build_dir)


def main():
    ap = argparse.ArgumentParser(description="compile the job benchmark")
    ap.add_argument("--build-dir", default=default_build_dir())
    a = ap.parse_args()
    os.makedirs(a.build_dir, exist_ok=True)
    build(a.build_dir)


if __name__ == "__main__":
    main()
