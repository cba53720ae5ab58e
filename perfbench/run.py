#!/usr/bin/env python3
"""Benchmark runner for the chunk pipeline and the declared-query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the repository and the
benchmark's JVM side from source with sbt (offline; the first run compiles,
later runs reuse the build while the sources are unchanged), runs one
workload in a fresh JVM, checks every output, and prints one JSON line as the
last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer ones. Everything else (build log, Spark logs,
progress) goes to stderr. Build output, scratch data and per-run detail
files (config, raw samples, spans) live under .bench_build/perfbench/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import pbstats  # noqa: E402

WORKLOADS = ("live_small_files", "bulk_large_files", "query_registry")
MASTER_CPUS = "4"
JAVA_HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def source_files():
    """Every input of the build, for the rebuild stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout):
    """Run a child in its own process group, its output to stderr; on
    timeout kill the whole group. Always waits for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s", 1)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    """Compile the repository and the benchmark; returns the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    want = stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    cmd.append("export Runtime/fullClasspath")
    log("building (sbt, offline) ...")
    code, out = run_child(cmd, HERE, env, 700)
    sys.stderr.write(out)
    lines = [l for l in out.splitlines() if "perfbench" in l and ":" in l and not l.startswith("[")]
    if code != 0 or not lines:
        fail(f"build failed (sbt exit {code})", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def run_jvm(cp, args, work):
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_STATE_STORE", "SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    env["SPARK_GRAFT_CPUS"] = MASTER_CPUS
    java = shutil.which("java") or fail("java not found on PATH")
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{JAVA_HEAP}", f"-Xms{JAVA_HEAP}",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dderby.system.home=" + work,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args
    code, out = run_child(cmd, work, env, JVM_TIMEOUT_S)
    sys.stderr.write(out)
    if code != 0:
        fail(f"benchmark JVM exited with {code}", 1)


def oracle_check(results_dir, subset):
    """Compare each registry query's dumped result with its DuckDB oracle.
    Returns the list of failures (query: reason)."""
    try:
        import duckdb
    except ImportError:
        return ["duckdb is not installed: the registry results cannot be checked"]
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        p = os.path.join(DATA, f"{t}.parquet")
        if os.path.isfile(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
    bad = []
    for name in subset:
        if name not in oracle:
            bad.append(f"{name}: no oracle SQL")
            continue
        try:
            rel = con.sql(oracle[name])
            exp = rel.df()
            got = con.execute(f"SELECT * FROM '{os.path.join(results_dir, name)}/*.parquet'").df()
        except Exception as e:  # an oracle or read error is a failed check
            bad.append(f"{name}: {e}")
            continue
        why = pbstats.frames_match(list(exp.columns), exp.values.tolist(),
                                   list(got.columns), got.values.tolist())
        if why:
            bad.append(f"{name}: {why}")
    return bad


def phase_ops(phase):
    d = phase["detail"]
    if "due_ms" in d:
        return pbstats.due_latencies(d["due_ms"], d["verified_ms"])
    return phase["ops_ms"]


def end_to_end(raw, phase):
    ops = phase_ops(phase)
    return {
        "setup_s": pbstats.median(raw["setup_s"]),
        "latency_p50_ms": pbstats.median(ops),
        "latency_p90_ms": pbstats.quantile(ops, 0.90),
        "throughput_mb_s": phase["mb"] / (phase["busy_ms"] / 1000.0),
    }


def per_layer(raw):
    """The traced phase runs between two untraced ones in the same warm JVM:
    its overhead is taken against the mean of the two, and their difference
    shows how far the JVM still drifts between phases."""
    before, traced, after = raw["phases"]
    m = dict(traced["layers"])
    d = traced["detail"]
    late = pbstats.lateness(d["due_ms"], d["landed_ms"]) if "due_ms" in d else []
    m["bench.generator_late_ms_p99"] = pbstats.quantile(late, 0.99) if late else 0.0
    p50_before = pbstats.median(phase_ops(before))
    p50_after = pbstats.median(phase_ops(after))
    m["bench.trace_overhead_frac"] = pbstats.overhead(
        pbstats.median(phase_ops(traced)), p50_before, p50_after)
    m["bench.untraced_repeat_frac"] = p50_after / p50_before - 1.0
    m["bench.heap_live_mb"] = before["heap_live_mb"]
    return m


def main():
    # a terminated runner must still stop its child (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    for need in (bench_file, os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft"), DATA):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from the root of a "
                 "full checkout of the repository")
    with open(bench_file) as fh:
        bench = json.load(fh)

    cp = build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    raw_file = os.path.join(results, f"{tag}.raw.json")
    shutil.rmtree(work, ignore_errors=True)
    try:
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--work", work, "--out", raw_file, "--data", DATA], work)
        with open(raw_file) as fh:
            raw = json.load(fh)
        check_failures = list(raw["check_errors"])
        check_attempted = 0
        if a.workload == "query_registry":
            subset = raw["config"]["queries"]
            check_attempted = len(subset)
            check_failures += oracle_check(os.path.join(work, "registry-results"), subset)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    phases = raw["phases"]
    correct, attempted, failed = pbstats.account(phases, len(check_failures), check_attempted)
    for p in phases:
        for v in p["violations"]:
            log(f"violation: {v}")
    for f in check_failures:
        log(f"check failed: {f}")

    if a.trace:
        values = per_layer(raw)
        wanted = bench["per_layer"]
    else:
        values = end_to_end(raw, phases[0])
        wanted = bench["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics not measured: {missing}", 1)
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}

    detail = {"config": raw["config"], "setup_s": raw["setup_s"],
              "metrics": metrics, "check_failures": check_failures,
              "phases": phases,
              "failed_frac": failed / attempted}
    ops = phase_ops(phases[0])
    tail = pbstats.tail_percentile(len(ops))
    detail["latency_samples"] = len(ops)
    if tail is not None:
        detail[f"latency_tail_p{tail:g}_ms"] = pbstats.quantile(ops, tail / 100.0)
    if a.trace:
        detail["span_self_time"] = pbstats.self_time_by_name(raw["spans"])
        with open(os.path.join(results, f"{tag}.spans.json"), "w") as fh:
            json.dump(raw["spans"], fh)
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    os.remove(raw_file)
    log(f"config: {json.dumps(raw['config'])}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
