#!/usr/bin/env python3
"""Indexer benchmark: one command per workload.

    python3 perfbench/run.py --workload <live|curate> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine and the
benchmark (see build.py); later runs reuse the build. The input is generated
from the seed inside the benchmark JVM. The last line of standard output is
one JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
The line before it is the full record (`detail: {...}`): workload-specific
figures, the sizes of the generated input, and the contention evidence
(process CPU, nproc, memory, load, JVM and Spark versions).

Exit codes: 0 = measured and correct; 1 = a result was printed but an
output did not match the model or the DuckDB oracle; 2 = no result (build
failure, crash, or timeout).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("live", "curate")
DEADLINE_S = 170          # a run ends within 180 s, the first build excepted
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def oracle_check(work):
    """x49 output of the curate workload against the registry's DuckDB SQL."""
    import duckdb
    d = os.path.join(work, "curate")
    with open(os.path.join(d, "x49_oracle.sql")) as f:
        sql = f.read()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(d, 'corpus', t + '.parquet')}/*.parquet')")
    want = sorted(con.execute(f"SELECT doc_id, n_tokens FROM ({sql})").fetchall())
    got = sorted(con.execute(
        f"SELECT doc_id, n_tokens FROM read_parquet('{os.path.join(d, 'out')}/*.parquet')"
    ).fetchall())
    if got == want:
        return [], len(want)
    missing = sorted(set(want) - set(got))[:3]
    extra = sorted(set(got) - set(want))[:3]
    return [f"x49: {len(got)} rows, oracle {len(want)}; missing {missing}, extra {extra}"], len(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = ap.parse_args()

    classpath = build.build()
    start = time.time()
    work = os.path.join(build.build_root(), "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out])
    log_path = os.path.join(work, "jvm.log")
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                proc.wait(timeout=DEADLINE_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"{a.workload} did not finish within {DEADLINE_S} s")
        if not os.path.isfile(out):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"{a.workload}: the JVM exited with {proc.returncode} and wrote no result")
        with open(out) as f:
            rec = json.load(f)
        if a.workload == "curate" and rec["correct"] and a.trace == 0:
            mism, rows = oracle_check(work)
            rec["mismatches"] += mism
            rec["correct"] = not rec["mismatches"]
            rec["detail"]["oracle_rows"] = rows
        rec["detail"]["process_wall_s"] = time.time() - start
        if rec["mismatches"]:
            print("perfbench: " + "; ".join(rec["mismatches"]), file=sys.stderr)
        metrics = rec["metrics"]
        if a.trace == 1:
            units = dict(build_units())
            metrics = {k: {"value": v["value"], "unit": units.get(k, "count")}
                       for k, v in metrics.items()}
        print("detail: " + json.dumps({k: rec[k] for k in
                                      ("workload", "seed", "detail", "contention", "mismatches")}))
        print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                          "failed": rec["failed"], "metrics": metrics}), flush=True)
        sys.exit(0 if rec["correct"] else 1)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def build_units():
    """Per-layer units as BENCHMARK.json declares them."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return []
    with open(path) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


if __name__ == "__main__":
    main()
