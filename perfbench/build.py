#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's main sources
together with the benchmark harness (perfbench/scala) into one class
directory, with the Scala compiler that ships in Spark's jar directory.

Usage: python3 perfbench/build.py        (from the repository root)

The class directory is keyed by a hash of every source file, so an
unchanged tree is never rebuilt; a build goes to a temporary directory
that is renamed into place only when the compiler succeeds.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")


def spark_jars() -> str:
    """Spark's jar directory, $SPARK_HOME/jars (the Spark install the repo builds against)."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Spark jars with a Scala compiler under {jars!r}; set SPARK_HOME")
    return jars


def sources() -> list:
    app = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not app:
        raise RuntimeError("no sources under src/main/scala: run from the repository root")
    bench = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "scala", "*.scala")))
    return app + bench


def stamp(files: list, jars: str) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def build() -> str:
    """Return the class directory for the current sources, compiling if needed."""
    jars = spark_jars()
    files = sources()
    classes = os.path.join(BUILD_DIR, "classes-" + stamp(files, jars))
    if os.path.isdir(classes):
        return classes
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = f"{classes}.tmp{os.getpid()}"
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-nowarn", "-d", tmp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("scalac failed:\n" + proc.stdout[-4000:])
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except Exception as exc:  # noqa: BLE001 - report any build failure
        print(exc, file=sys.stderr)
        sys.exit(1)
