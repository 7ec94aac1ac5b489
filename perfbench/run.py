#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload render|corpus \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark from
source with sbt on first use (offline; the classpath is cached under
perfbench/target), runs one workload in a JVM of its own, checks the
answers, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Everything else goes to stderr.
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
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the engine build's
# javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file the build reads: engine and benchmark sources."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file = HERE / "target" / "perfbench-classpath.txt"
    stamp_file = HERE / "target" / "perfbench-stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "").split()
    for o in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if not any(x.split("=")[0] == o.split("=")[0] for x in opts):
            opts.append(o)
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S, text=True)
    sys.stderr.write(p.stdout)
    cp = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cp:
        raise SystemExit(f"[perfbench] build failed (sbt exit {p.returncode})")
    cp_file.parent.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp[-1])
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.1f}s")
    return cp[-1]


def java_cmd(cp, tmp):
    """The benchmark JVM's command line, up to its main class."""
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    # a fixed heap and young generation: peak RSS then tracks what the
    # program retains, not when the collector chose to grow the heap
    cmd = [str(java), "-Xms3g", "-Xmx3g", "-Xmn512m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"]


def run_jvm(cp, args, work):
    """Run the workload JVM; return (exit status, peak RSS in MB)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    p = subprocess.Popen(java_cmd(cp, tmp) + args, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    deadline = time.time() + RUN_TIMEOUT_S
    while True:
        pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid:
            p.returncode = os.waitstatus_to_exitcode(status)
            return p.returncode, ru.ru_maxrss / 1024.0
        if time.time() > deadline:
            log("workload timed out; stopping it")
            os.killpg(p.pid, signal.SIGKILL)
            _, status, ru = os.wait4(p.pid, 0)
            p.returncode = -9
            return -9, ru.ru_maxrss / 1024.0
        time.sleep(0.05)


def oracle_failures(out_dir):
    """Compare each corpus stage output with its DuckDB oracle, the same
    check as scripts/oracle_check.py: columns sorted by name, exact values."""
    import duckdb
    import pandas as pd
    out_dir = Path(out_dir)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{out_dir / 'data' / (t + '.parquet')}/*.parquet')")
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())

    def check(name):
        files = sorted((out_dir / "out" / name).glob("*.parquet"))
        try:
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            want = con.cursor().execute(oracle[name]).fetchdf()
            got = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
            want = want.reindex(sorted(want.columns), axis=1).reset_index(drop=True)
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            return None
        except Exception as e:  # any error or mismatch fails the stage
            log(f"oracle mismatch in {name}: {str(e)[:300]}")
            return name

    # the component-closure oracles are single-threaded recursive queries:
    # run the stages side by side
    with ThreadPoolExecutor(max_workers=4) as pool:
        return [n for n in pool.map(check, sorted(oracle)) if n]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"[perfbench] unknown workload {a.workload}")
    if not (ROOT / "src" / "main" / "scala" / "graft" / "Engine.scala").exists():
        raise SystemExit("[perfbench] engine sources not found: run from the repository root")

    cp = build()
    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        status, rss_mb = run_jvm(cp, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--out", str(work / "result.json")], work)
        if status != 0 or not (work / "result.json").exists():
            raise SystemExit(f"[perfbench] workload failed (exit {status})")
        res = json.loads((work / "result.json").read_text())
        failed = res["failed"]
        if res.get("oracle_dir"):
            t0 = time.time()
            failed += len(oracle_failures(res["oracle_dir"]))
            log(f"oracle check done in {time.time() - t0:.1f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        wanted, got = spec["per_layer"], res["layer"]
        # a layer this workload does not exercise did no work: 0
        values = {m["name"]: got.get(m["name"], 0.0) for m in wanted}
    else:
        wanted, got = spec["end_to_end"], dict(res["e2e"], peak_rss_mb=rss_mb)
        missing = [m["name"] for m in wanted if m["name"] not in got]
        if missing:
            raise SystemExit(f"[perfbench] metrics not measured: {missing}")
        values = {m["name"]: got[m["name"]] for m in wanted}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
