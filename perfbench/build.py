#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala) and then the harness (perfbench/src)
with the Scala compiler that ships in the Spark jars directory, into
BUILD_DIR/classes and BUILD_DIR/harness-classes. Each tree is rebuilt only
when the digest of its sources changes. Prints the runtime classpath.

Usage: python3 perfbench/build.py [BUILD_DIR]   (default: .bench_build)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars directory build.sbt compiles against: $SPARK_JARS_DIR, else
    the default its `unmanagedBase` setting names."""
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'getOrElse\("SPARK_JARS_DIR",\s*"([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("build.sbt names no default Spark jars directory; "
                           "set SPARK_JARS_DIR")
    return m.group(1)


def scala_sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(files, out, extra_cp, key):
    """scalac `files` into `out` unless `out` already holds `key`."""
    stamp = os.path.join(out, ".key")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-encoding", "UTF-8",
           "-d", tmp]
    if extra_cp:
        cmd += ["-classpath", extra_cp]
    print(f"perfbench: compiling {len(files)} files into {out}", file=sys.stderr)
    subprocess.run(cmd + ["@" + argfile], cwd=ROOT, check=True,
                   stdout=sys.stderr, stderr=sys.stderr)
    with open(os.path.join(tmp, ".key"), "w") as fh:
        fh.write(key)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    os.remove(argfile)


def build(build_dir):
    """Compile what changed; return (runtime classpath, program digest)."""
    program = scala_sources(os.path.join(ROOT, "src", "main", "scala"))
    harness = scala_sources(os.path.join(HERE, "src"))
    if not program:
        raise FileNotFoundError("no program sources under src/main/scala")
    prog_key = digest(program)
    classes = os.path.join(build_dir, "classes")
    harness_classes = os.path.join(build_dir, "harness-classes")
    compile_tree(program, classes, None, prog_key)
    compile_tree(harness, harness_classes, classes, digest(harness, prog_key))
    cp = os.pathsep.join([harness_classes, classes, os.path.join(spark_jars(), "*")])
    return cp, prog_key


if __name__ == "__main__":
    d = sys.argv[1] if len(sys.argv) > 1 else ".bench_build"
    print(build(os.path.join(ROOT, d))[0])
