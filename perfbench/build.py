#!/usr/bin/env python3
"""Build file of the perfbench benchmark.

Compiles, from source, graft's library (`src/main/scala` of the
checkout) and then the benchmark's own sources (`perfbench/src`) with the
Scala compiler that ships in Spark's jar directory, so the build needs no
dependency resolver and no network. Each stage is skipped when a digest
of its inputs matches the one recorded by the last successful build.

Usage: python3 perfbench/build.py [--out DIR]
       (DIR defaults to .bench_build/perfbench under the checkout root)
Prints the runtime classpath on its last line.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars() -> str:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("build: Spark not found (set SPARK_HOME or put "
                         "spark-submit on PATH)")
    return jars


def java() -> str:
    jh = os.environ.get("JAVA_HOME")
    if jh and os.path.exists(os.path.join(jh, "bin", "java")):
        return os.path.join(jh, "bin", "java")
    exe = shutil.which("java")
    if not exe:
        raise SystemExit("build: no java on PATH")
    return exe


def sources(d: str) -> list:
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files: list, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_stage(name: str, srcs: list, classpath: str, out: str) -> None:
    stamp = out + ".stamp"
    want = digest(srcs, classpath)
    if os.path.isdir(out) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    jtmp = os.path.join(os.path.dirname(out), "tmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={jtmp}", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + argfile]
    print(f"build: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: {name} failed to compile")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as fh:
        fh.write(want + "\n")


def build(out_dir: str) -> str:
    lib_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib_src):
        raise SystemExit(f"build: graft sources not found at {lib_src}")
    out_dir = os.path.abspath(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    lib_out = os.path.join(out_dir, "graft-classes")
    bench_out = os.path.join(out_dir, "perfbench-classes")
    compile_stage("graft", sources(lib_src), jars, lib_out)
    compile_stage("perfbench", sources(os.path.join(HERE, "src")),
                  os.pathsep.join([lib_out, jars]), bench_out)
    return os.pathsep.join([bench_out, lib_out, jars])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build",
                                                  "perfbench"))
    print(build(ap.parse_args().out))


if __name__ == "__main__":
    main()
