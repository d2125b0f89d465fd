#!/usr/bin/env python3
"""Build file of the graft benchmark package.

Compiles the engine (`src/main/scala`) and the benchmark
(`bench/src`) with the Scala compiler that ships in the Spark
distribution (the jar directory `unmanagedBase` names in build.sbt),
into `.bench_build/graftbench/` at the checkout root.
Each of the two compile steps is skipped when a digest of its inputs
matches the digest stored beside its output.

    python3 bench/build.py          # build (or confirm up to date)
    python3 bench/build.py --print  # also print the runtime classpath

Exits non-zero, without building, when the engine sources are absent.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")


def spark_jars():
    """The Spark jar directory the engine's own build compiles against
    (`unmanagedBase` in build.sbt); None when there is no such build."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        return None
    return m.group(1) if m else None


def scala_files(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_step(name, files, spark_cp, deps, stamp):
    """Compile `files` against `deps` and Spark, with the Scala compiler
    in the Spark jars; skipped while `stamp` matches the last build."""
    dest = os.path.join(OUT, name)
    stamp_file = dest + ".digest"
    if os.path.isdir(dest) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = tmp + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", spark_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(deps + [spark_cp]), "@" + args_file]
    print(f"== build: compiling {name} ({len(files)} files)", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(args_file)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed for {name}")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return dest


def build():
    """Compile what is stale; return the runtime classpath."""
    main_files = scala_files(MAIN_SRC)
    jars = spark_jars()
    if not main_files or not jars or not os.path.isdir(jars):
        raise SystemExit("build: engine sources or Spark jars not found")
    spark_cp = os.path.join(jars, "*")
    main_stamp = digest(main_files)
    main_out = compile_step("main", main_files, spark_cp, [], main_stamp)
    bench_files = scala_files(BENCH_SRC)
    bench_out = compile_step("bench", bench_files, spark_cp, [main_out],
                             digest(bench_files, main_stamp))
    return os.pathsep.join([bench_out, main_out, MAIN_RES, spark_cp])


def source_digest():
    """Digest of the compiled sources, from the stamps of the last build:
    identifies the build in results (the checkout the benchmark runs in
    need not be a git repository)."""
    h = hashlib.sha256()
    for name in ("main", "bench"):
        with open(os.path.join(OUT, name + ".digest")) as fh:
            h.update(fh.read().encode())
    return h.hexdigest()[:16]


if __name__ == "__main__":
    cp = build()
    if "--print" in sys.argv:
        print(cp)
