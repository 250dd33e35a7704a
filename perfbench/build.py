#!/usr/bin/env python3
"""Build file of the indexer benchmark.

Compiles the engine (`src/main/scala` plus `src/main/resources` of the
checkout) and then the benchmark (`perfbench/src`) with the Scala compiler
that ships among the Spark jars, into `<build root>/perfbench/`. Each stage
is cached under a hash of its inputs, so a second run only checks hashes.

    python3 perfbench/build.py            # prints the run classpath

The build root is `$CARGO_TARGET_DIR` when set, else `.bench_build`, both
relative to the checkout root. The Spark jars are `$SPARK_HOME/jars`, else
the `unmanagedBase` directory build.sbt compiles against.
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


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: set SPARK_HOME or keep unmanagedBase in build.sbt")
    return m.group(1)


def build_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_stage(name, files, classpath, resources=None, extra=""):
    """Compile `files` against `classpath` into a cached, hash-named dir."""
    if not files:
        raise SystemExit(f"build: no {name} sources found")
    res_files = sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)) if resources else []
    res_files = [f for f in res_files if os.path.isfile(f)]
    key = digest(files + res_files, extra)
    out = os.path.join(build_root(), f"{name}-{key}")
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(classpath)] + files
    print(f"build: compiling {len(files)} {name} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: {name} failed to compile")
    if resources:
        for f in res_files:
            dst = os.path.join(tmp, os.path.relpath(f, resources))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for stale in glob.glob(os.path.join(build_root(), f"{name}-*")):
        if stale != out and ".tmp" not in stale:
            shutil.rmtree(stale, ignore_errors=True)
    return out


def build():
    """Return the classpath (list of entries) that runs perfbench.Main."""
    jars = os.path.join(spark_jars(), "*")
    if not glob.glob(os.path.join(spark_jars(), "spark-core_*.jar")):
        raise SystemExit(f"build: no Spark jars under {spark_jars()}")
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    engine = compile_stage("engine", sources(engine_src), [jars],
                           resources=os.path.join(ROOT, "src", "main", "resources"))
    bench = compile_stage("bench", sources(os.path.join(HERE, "src")), [engine, jars],
                          extra=os.path.basename(engine))
    return [bench, engine, jars]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
