#!/usr/bin/env python3
"""Layered benchmark of proteus-engine-spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch-analytics --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload stream-replay --seed 1 --seconds 15 --trace 1
    python3 perfbench/run.py --explain q01_pricing_summary

A run builds the program from source when its sources changed (sbt, the
build in this directory), starts one fresh JVM running ``local[N]`` with
``N = min(4, nproc)``, and lets ``perfbench.Harness`` set up the session,
run one cold pass and a fixed number of warm passes, and write the raw
record. This script then checks every cold-pass result against the DuckDB
oracle from ``SparkEntry.oracleSql`` (the compare of
``tools/check_oracle.py``), prints every metric by name with its unit, and
prints one JSON object as the last line of standard output. With
``--trace 0`` it holds the end-to-end metrics; with ``--trace 1`` the
per-layer metrics of a traced run. See README.md in this directory.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

import metrics
from workloads import WORKLOADS, warm_passes

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT / "tools"))  # check_oracle: the oracle compare
FIXTURES = HERE / "fixtures" / "sf0.01"
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 840.0
HEAP = "-Xmx3g"
ADD_OPENS = [
    a for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build():
    """Compile the program and the harness unless their sources are unchanged;
    return the runtime classpath."""
    program = ROOT / "src" / "main" / "scala"
    if not (program / "graft" / "SparkEntry.scala").is_file():
        sys.exit(f"program sources not found under {program}")
    inputs = sorted(
        [p for d in (program, HERE / "src") for p in d.rglob("*") if p.is_file()]
        + [HERE / "build.sbt", HERE / "project" / "build.properties"])
    digest = hashlib.sha256()
    for p in inputs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = HERE / "target" / "build.stamp"
    classpath = HERE / "target" / "classpath.txt"
    if stamp.is_file() and classpath.is_file() and stamp.read_text() == digest.hexdigest():
        return classpath.read_text().strip()
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    done = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "writeClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_LIMIT_S)
    if done.returncode != 0 or not classpath.is_file():
        sys.stderr.write(done.stdout[-4000:] + done.stderr[-4000:])
        sys.exit(f"build failed with exit code {done.returncode}")
    stamp.write_text(digest.hexdigest())
    return classpath.read_text().strip()


def harness(classpath, work, args, deadline):
    """Run the harness JVM; return seconds from launch until it reported ready."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", *ADD_OPENS, HEAP, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath,
           "perfbench.Harness", "--fixtures", str(FIXTURES), "--out", str(work), *args]
    with open(work / "jvm.log", "w") as err:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                                text=True)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
        timer.start()
        ready = None
        try:
            for line in proc.stdout:
                if ready is None and line.startswith("PERFBENCH READY"):
                    ready = time.perf_counter() - t0
                else:
                    sys.stdout.write(line)
            code = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or ready is None:
        tail = (work / "jvm.log").read_text()[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"harness exited with code {code}")
    return ready


def check_results(run, results):
    """Compare each cold-pass result with the DuckDB oracle; return failures."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    from check_oracle import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = FIXTURES / f"{t}.parquet"
        if p.exists():
            con.sql(f"create view {t} as select * from '{p}'")
    failures = {}
    for q in run["passes"][0]["queries"]:
        name = q["name"]
        if q["error"]:
            failures[name] = q["error"]
            continue
        sql = run["oracle_sql"].get(name)
        if sql is None:
            failures[name] = "no oracle SQL"
            continue
        files = glob.glob(str(results / name / "*.parquet"))
        got = pq.ParquetDataset(files).read().to_pandas() if files else pd.DataFrame()
        mismatch = compare(got, con.sql(sql).df())
        if mismatch:
            failures[name] = mismatch
    return failures


def compare(got, expected):
    """``None`` when two frames match as tools/check_oracle.py compares them
    (row count, column names, hash of the sorted rows); else the difference."""
    from check_oracle import frame_hash
    gh, gcols, gn = frame_hash(got)
    eh, ecols, en = frame_hash(expected)
    if (gh, gcols, gn) == (eh, ecols, en):
        return None
    return f"rows {gn} vs {en}; cols {gcols} vs {ecols}; hash {gh} vs {eh}"


def report(values):
    for name, (value, unit) in values.items():
        print(f"{name:30s} {value:14.6f} {unit}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--explain", metavar="QUERY",
                    help="print the plan of the timed action for one query and exit")
    args = ap.parse_args()
    if args.workload is None and args.explain is None:
        ap.error("--workload is required")
    deadline = time.monotonic() + RUN_LIMIT_S
    classpath = build()
    # a run that had to build first still gets its full time to measure
    deadline = max(deadline, time.monotonic() + RUN_LIMIT_S - 10)
    cpus = min(4, os.cpu_count() or 1)
    work = HERE / "work" / f"{os.getpid()}-{args.workload or 'explain'}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        if args.explain:
            harness(classpath, work, ["--cpus", str(cpus), "--explain", args.explain], deadline)
            return
        wl = WORKLOADS[args.workload]
        passes = warm_passes(args.workload, args.seconds)
        if args.trace:
            passes *= 2  # half the warm passes of a traced run are untraced
        log(f"{args.workload}: {len(wl['queries'])} queries, 1 cold + {wl['settle_passes']} settle"
            f" + {passes} warm passes, local[{cpus}], seed {args.seed}")
        setup_s = harness(classpath, work, [
            "--queries", ",".join(wl["queries"]), "--cpus", str(cpus), "--seed", str(args.seed),
            "--settle-passes", str(wl["settle_passes"]), "--warm-passes", str(passes),
            "--trace", str(args.trace)], deadline)
        run = json.loads((work / "run.json").read_text())
        failures = check_results(run, work / "results")
        for i, p in enumerate(run["passes"][1:], 1):
            failures.update((f"{q['name']} ({p['kind']} pass {i})", q["error"])
                            for q in p["queries"] if q["error"])
        attempted = sum(len(p["queries"]) for p in run["passes"])
        failed = len(failures)
        if args.trace:
            values = metrics.per_layer(run)
        else:
            values = metrics.end_to_end(run, setup_s)
            warm = [metrics.pass_seconds(p) for p in metrics.warm_passes(run)]
            q1, q2, q3 = metrics.quartiles(warm)
            n = sum(len(p["queries"]) for p in metrics.warm_passes(run))
            print(f"# warm pass_s quartiles {q1:.4f} / {q2:.4f} / {q3:.4f} s over {len(warm)}"
                  f" passes; query_p50_s over {n} per-query samples")
        report(values)
        print(f"{'failed_frac':30s} {failed / attempted:14.6f} ratio"
              f" ({failed} of {attempted} query executions)")
        for name, why in sorted(failures.items()):
            print(f"# FAILED {name}: {why}")
        assert all(metrics.valid_name(k) for k in values)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
