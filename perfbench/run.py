#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its metrics.

    python3 perfbench/run.py --workload octree --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are
the end-to-end ones (pass_s, setup_s); with --trace 1 they are the
per-layer Spark counters of BENCHMARK.json. Progress and Spark's own
logging go to standard error. The exit code is 0 only when every checked
operation was correct.

What the run writes stays under .bench_build/perfbench in the checkout:
the compiled classes (reused across runs), the spans of traced runs,
and a per-run directory with the generated inputs, the analytics
results and the JVM's tmpdir, removed when the run ends. The exceptions
are the engine's own scratch space: Spark's local dirs (the engine's
spark.local.dir) and the octree workload's output trees under the
engine's artifact root (see README.md); both are removed when the run
ends, too.

--smoke runs every workload at a tiny size (16³ volume, two queries),
traced and untraced, and checks that the volume generator is
deterministic.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's dir

import build  # noqa: E402
import gen  # noqa: E402

# Sizes of the timed workloads, and the tiny ones --smoke uses.
SIZES = {
    "octree": {"n": 64},
    "analytics_sf01": {"tables": "sf0.1"},
}
SMOKE_SIZES = {
    "octree": {"n": 16},
    "analytics_sf01": {"tables": "sf0.1", "queries": "q5_join,text_encode"},
}
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# The repository's fixed sf0.1 test tables (seed 42), as far as the
# analytics mix reads them; the analytics workload ignores --seed.
TABLES_DIR = os.path.join(HERE, "data")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def units():
    """Metric name → unit, from BENCHMARK.json at the checkout root."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


def make_inputs(seed, size, run_dir):
    """Returns the input directory of the run: a generated volume, or the
    fixed tables."""
    if "n" in size:
        data = os.path.join(run_dir, "data")
        gen.volume_inputs(seed, size["n"], data)
        return data
    return os.path.join(TABLES_DIR, size["tables"])


def oracle_check(data, work):
    """Compares each result the JVM wrote as parquet with DuckDB running
    the engine's oracle SQL on the same tables. Returns (checked, errors).
    """
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    errors = []
    for q, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(work, "results", q, "*.parquet"))
        try:
            if not files:
                raise ValueError("no result written")
            got = canon(pd.concat([pq.read_table(f).to_pandas() for f in files]))
            want = canon(con.sql(sql).df())
            if list(got.columns) != list(want.columns):
                raise ValueError(f"columns {list(got.columns)} != {list(want.columns)}")
            if len(got) != len(want):
                raise ValueError(f"{len(got)} rows != {len(want)} oracle rows")
            bad = int((got.astype(str) != want.astype(str)).any(axis=1).sum())
            if bad:
                raise ValueError(f"{bad} of {len(got)} rows differ from the oracle")
        except Exception as e:  # every failure is reported, none is fatal
            errors.append(f"{q} oracle: {e}")
    con.close()
    return len(oracle), errors


def run_jvm(classes, args, run_dir, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the heap of the repository's own run setting (build.sbt)
    cmd += [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", build.classpath(classes),
            "graftbench.Main"] + args
    env = dict(os.environ)
    # GraftSession keeps shuffle and spill on tmpfs (/dev/shm); only where
    # that is not writable do Spark's local dirs fall back to the run dir,
    # the same rule as the engine's artifact root.
    if not (os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)):
        env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
        os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"JVM still running after {timeout:.0f} s; stopping it")
        proc.kill()
        proc.wait()
        return None
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def run_workload(workload, seed, seconds, trace, size):
    """Runs one workload; returns the result object (None if no run)."""
    t_start = time.monotonic()
    classes = build.ensure()
    run_dir = os.path.join(build.WORK, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        data = make_inputs(seed, size, run_dir)
        gen_s = time.monotonic() - t0
        out = os.path.join(work, "result.json")
        args = ["--workload", workload, "--data", data, "--work", work, "--out", out,
                "--seconds", str(seconds), "--trace", "1" if trace else "0",
                "--cores", str(os.cpu_count() or 1)]
        if "queries" in size:
            args += ["--queries", size["queries"]]
        launched = time.time()
        timeout = JVM_TIMEOUT_S - (time.monotonic() - t_start)
        code = run_jvm(classes, args, run_dir, timeout)
        log(f"inputs {gen_s:.1f} s, JVM {time.time() - launched:.1f} s")
        if code != 0 or not os.path.exists(out):
            log(f"JVM failed (exit {code})")
            return None
        with open(out) as f:
            r = json.load(f)
        attempted, failed, errors = r["attempted"], r["failed"], list(r["errors"])
        if workload == "analytics_sf01":
            t0 = time.monotonic()
            checked, errs = oracle_check(data, work)
            log(f"oracle check {time.monotonic() - t0:.1f} s")
            attempted += checked
            failed += len(errs)
            errors += errs
        for e in errors:
            log(f"FAILED {e}")
        if trace:
            u = units()
            metrics = {k: {"value": v, "unit": u[k]} for k, v in r["layers"].items()}
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(build.WORK, f"spans-{workload}-{seed}.json"))
        elif r["pass_s"]:
            setup_s = gen_s + (r["ready_epoch_ms"] / 1000.0 - launched)
            metrics = {"pass_s": {"value": statistics.median(r["pass_s"]), "unit": "s"},
                       "setup_s": {"value": setup_s, "unit": "s"}}
        else:
            metrics = {}
        return {"correct": failed == 0 and bool(metrics), "attempted": attempted,
                "failed": failed, "metrics": metrics}
    finally:
        t0 = time.monotonic()
        trees = os.path.join(work, "trees.txt")  # output trees outside run_dir
        if os.path.exists(trees):
            with open(trees) as f:
                shutil.rmtree(f.read().strip(), ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)
        log(f"clean-up {time.monotonic() - t0:.1f} s")


def files_of(root):
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def smoke():
    """Tiny end-to-end check of every workload plus generator determinism."""
    scratch = os.path.join(build.WORK, f"smoke-{os.getpid()}")
    try:
        a, b, c = (make_inputs(s, {"n": 16}, os.path.join(scratch, x))
                   for s, x in ((7, "a"), (7, "b"), (8, "c")))
        fa, fb, fc = files_of(a), files_of(b), files_of(c)
        same, differs = fa == fb and len(fa) > 0, fa != fc
        log(f"volume generator: same seed identical={same}, other seed differs={differs}")
        ok = same and differs
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for workload, size in SMOKE_SIZES.items():
        for trace in (False, True):
            r = run_workload(workload, 7, 1, trace, size)
            good = r is not None and r["correct"]
            log(f"{workload} trace={int(trace)}: {'ok' if good else 'FAILED'} "
                f"{json.dumps(r) if r else ''}")
            ok &= good
    print(json.dumps({"smoke": "ok" if ok else "failed"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    try:
        if a.smoke:
            return smoke()
        if not a.workload:
            ap.error("--workload is required")
        r = run_workload(a.workload, a.seed, a.seconds, a.trace == 1, SIZES[a.workload])
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    if r is None:
        return 1
    print(json.dumps(r))
    return 0 if r["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
