#!/usr/bin/env python3
"""Benchmark runner for ksppspark.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source with sbt (once per source
tree; the classpath is cached under .bench_build/), runs one workload in a
fresh JVM, checks its outputs and prints one JSON result as the last line of
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full detail (input properties, failures with their
exception class and message, spans) is written to .bench_out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("changelog_stream", "vector_index", "curation_stream", "operator_batch")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def classpath(build_dir, deadline):
    h = hashlib.sha256()
    for f in sorted(source_files()):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    # sbt keeps one classes directory, so one stamp records which sources
    # it was built from
    stamp = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            built_hash, _, cp = fh.read().partition("\n")
        if built_hash == h.hexdigest():
            return cp.strip()
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=out, timeout=deadline - time.monotonic())
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest() + "\n" + lines[-1])
    return lines[-1]


def run_group(cmd, cwd, stdout, timeout):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded its time limit")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True, key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def oracle_checks(work):
    """Each q01-q17 output against its oracle SQL in DuckDB over the
    generated tables: same column names, same rows, values equal (floats to
    a relative 1e-9)."""
    import duckdb
    import numpy as np
    con = duckdb.connect()
    tables = os.path.join(work, "tables")
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{tables}/{t}/*.parquet'")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    results = []
    for name in sorted(oracle):
        try:
            got = canon(con.sql(f"SELECT * FROM '{work}/out/{name}/*.parquet'").df())
            want = canon(con.sql(oracle[name]).df())
            err = None
            if list(got.columns) != list(want.columns):
                err = f"columns {list(got.columns)} != {list(want.columns)}"
            elif len(got) != len(want):
                err = f"rows {len(got)} != {len(want)}"
            elif len(want) == 0:
                err = "empty result"
            else:
                for c in got.columns:
                    a, b = got[c], want[c]
                    if a.astype(str).equals(b.astype(str)):
                        continue
                    if a.dtype.kind == "f" or b.dtype.kind == "f":
                        x = a.astype(float).to_numpy()
                        y = b.astype(float).to_numpy()
                        if np.allclose(x, y, rtol=1e-9, atol=1e-9, equal_nan=True):
                            continue
                    if a.dtype.kind == "M" or b.dtype.kind == "M":
                        import pandas as pd
                        if (pd.to_datetime(a).dt.tz_localize(None) == pd.to_datetime(b).dt.tz_localize(None)).all():
                            continue
                    err = f"column {c} differs"
                    break
        except Exception as e:  # keep the cause: class and message
            err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        results.append((f"{name} matches its oracle", err))
    return results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "GraftSession.scala")):
        fail(f"no library sources under {ROOT}/src/main/scala; run from a ksppspark checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"'{tool}' not found on PATH")

    # the build-output directory the caller names, by the CARGO_TARGET_DIR convention
    build_dir = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    build_dir = os.path.join(ROOT, build_dir) if not os.path.isabs(build_dir) else build_dir
    cp = classpath(build_dir, start + BUILD_LIMIT_S)
    run_start = time.monotonic()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}")
    outdir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(outdir, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", result_file]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                             text=True, start_new_session=True)
        try:
            out, err = p.communicate(timeout=max(1, RUN_LIMIT_S - (time.monotonic() - run_start)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail("the benchmark JVM exceeded its time limit")
        for line in out.splitlines():
            print(f"  {line}")
        if p.returncode != 0 or not os.path.exists(result_file):
            tail = "\n".join(err.splitlines()[-30:])
            fail(f"the benchmark JVM failed (exit {p.returncode}):\n{tail}")
        with open(result_file) as fh:
            res = json.load(fh)
        detail = res.pop("detail")
        if a.workload == "operator_batch":
            checks = oracle_checks(work)
            for name, err in checks:
                print(f"  check {name}: {err or 'ok'}")
            bad = [f"{n}: {e}" for n, e in checks if e]
            detail["checks"].update({n: e or "ok" for n, e in checks})
            detail["failures"] += bad
            res["attempted"] += len(checks)
            res["failed"] += len(bad)
            res["correct"] = res["correct"] and not bad
        detail["failed_share"] = res["failed"] / res["attempted"]
        with open(os.path.join(outdir, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as fh:
            json.dump(dict(res, detail=detail), fh)
        print(f"  failed_share {detail['failed_share']:.4f} ({res['failed']} of {res['attempted']})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
