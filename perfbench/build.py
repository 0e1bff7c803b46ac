#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own sources (`perfbench/src`) with the Scala compiler that
ships in Spark's jar directory, and generates the benchmark corpus.

Usage: python3 perfbench/build.py        (from the repository root)

Outputs go to `.bench_build/` at the repository root and are rebuilt only
when a source file (or the corpus generator) changes.
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
OUT = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
CORPUS_SF = "0.1"
CORPUS_SEED = "42"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the repository's own
    `unmanagedBase` in build.sbt."""
    d = None
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
            d = m and m.group(1)
        except OSError:
            pass
    jars = sorted(glob.glob(os.path.join(d, "*.jar"))) if d else []
    if not jars:
        raise BuildError(f"no Spark jars found (in {d}); set SPARK_HOME")
    return d, jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "*.scala")))
    return files


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build_classes():
    """Compile once per source digest; return the classes directory."""
    srcs = sources()
    jar_dir, jars = spark_jars()
    classes = os.path.join(OUT, "classes-" + digest(srcs))
    if os.path.isdir(classes):
        return classes
    os.makedirs(OUT, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars)] + srcs))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
         "-cp", os.path.join(jar_dir, "*"), "scala.tools.nsc.Main", "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    os.rename(tmp, classes)
    return classes


def build_corpus():
    """Generate the corpus once per generator version; return its dir."""
    gen = os.path.join(HERE, "gencorpus.py")
    corpus = os.path.join(OUT, f"corpus-sf{CORPUS_SF}-{digest([gen])}")
    if os.path.isdir(corpus):
        return corpus
    tmp = corpus + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    r = subprocess.run([sys.executable, gen, tmp, "--sf", CORPUS_SF, "--seed", CORPUS_SEED],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("corpus generation failed:\n" + r.stdout[-4000:])
    os.rename(tmp, corpus)
    return corpus


def main():
    try:
        print(build_classes())
        print(build_corpus())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
