#!/usr/bin/env python3
"""Benchmark runner for the sfaspark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source with sbt on first use (the classpath is cached under
perfbench/.work/build and rebuilt when a source file changes), runs one
workload in a fresh JVM at local[nproc], and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it is a detail object: every metric with its
sample count, the workload's own named metrics, checks and errors.

Exits non-zero without printing a result when the program cannot be built
or run (for instance, when the engine sources are not there).
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
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
WORKLOADS = ("sfa_words", "knn_ingest", "classify_curate")
RUN_LIMIT_S = 165
BUILD_LIMIT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's own
# build sets the same list for its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, stdout, env=None):
    """Run `cmd` in its own process group; kill the group after `limit_s`.
    Always waits for the process to end. Returns the exit code (None on
    timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        log(f"timed out after {limit_s:.0f} s: {cmd[0]}")
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def classpath(deadline):
    """Build with sbt when the sources changed; return the run classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("engine sources not found under src/main/scala/graft")
        return None
    key = source_hash()
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("key") == key and all(os.path.exists(p) for p in c["cp"].split(os.pathsep)):
            return c["cp"]
    os.makedirs(BUILD, exist_ok=True)
    out_path = os.path.join(BUILD, "sbt.log")
    log("building engine and benchmark with sbt")
    with open(out_path, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], HERE, deadline - time.time(), out)
    with open(out_path) as fh:
        lines = fh.read().splitlines()
    if rc != 0:
        log(f"sbt build failed (exit {rc}); tail of {out_path}:")
        for line in lines[-20:]:
            print(line, file=sys.stderr)
        return None
    cps = [ln for ln in lines if ln.startswith(os.sep) and "perfbench" in ln and os.pathsep in ln]
    if not cps:
        log("sbt printed no classpath")
        return None
    with open(cache, "w") as fh:
        json.dump({"key": key, "cp": cps[-1]}, fh)
    return cps[-1]


def oracle_rows(o):
    """The saved result's rows and the oracle SQL's rows from DuckDB over
    the same tables, both with columns in name order, rows sorted."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(o["sf_dir"])):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(o['sf_dir'], f)}/*.parquet')")

    def rows(rel):
        cols = sorted(rel.columns)
        return cols, sorted(rel.select(", ".join(cols)).fetchall())
    got = rows(con.sql(f"SELECT * FROM read_parquet('{o['result']}/*.parquet')"))
    want = rows(con.sql(o["sql"]))
    return got, want


def same_rows(got, want):
    def eq(x, y):
        if isinstance(x, float) or isinstance(y, float):
            return x is not None and y is not None and abs(x - y) <= 1e-9 * max(1.0, abs(y))
        return x == y
    return (got[0] == want[0] and len(got[1]) == len(want[1]) and
            all(eq(x, y) for g, w in zip(got[1], want[1]) for x, y in zip(g, w)))


def check_oracles(res):
    """Each result the run saved must equal its oracle SQL run in DuckDB
    over the same tables (and be non-empty); one attempted check each."""
    for o in res.get("oracles", []):
        res["attempted"] += 1
        try:
            got, want = oracle_rows(o)
            ok = bool(want[1]) and same_rows(got, want)
            why = f"{len(got[1])} rows {got[0]} against the oracle's {len(want[1])} rows {want[0]}"
        except Exception as e:  # any error is a failed check, never an abort
            ok, why = False, f"{type(e).__name__}: {e}"
        res["checks"][o["check"]] = ok
        if not ok:
            res["failed"] += 1
            res["errors"].append(f"check {o['check']}: {why}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    start = time.time()
    cp = classpath(start + BUILD_LIMIT_S)
    if cp is None:
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    try:
        # a fixed heap and the throughput collector: no heap resizing and
        # no concurrent GC threads competing with Spark's task threads,
        # which made run-to-run times swing more under G1
        java = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
                f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"]
        java += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        java += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace), "--work", run_dir, "--out", out]
        # Spark's scratch space stays inside the run directory
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        rc = run_bounded(java, ROOT, RUN_LIMIT_S, sys.stderr, env)
        if not os.path.exists(out):
            log(f"the run produced no result (exit {rc})")
            return 3
        with open(out) as fh:
            res = json.load(fh)
        if rc != 0:
            res["failed"] += 1
            res["errors"].append(f"benchmark JVM exited with {rc}")
        check_oracles(res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in res["metrics"].items()}
    correct = res["failed"] == 0 and bool(res["checks"]) and all(res["checks"].values())
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": res["cores"], "samples": {k: v["n"] for k, v in res["metrics"].items()},
              "detail": res["detail"], "samples_s": res["samples_s"],
              "checks": res["checks"], "errors": res["errors"]}
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": max(1, res["attempted"]),
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
