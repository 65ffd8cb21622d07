#!/usr/bin/env python3
"""Engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload library_ops --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark program from source (perfbench/build.sbt) into target/ and perfbench/target;
later runs reuse the build while no source file has changed. Each run
starts one JVM (perfbench.Main, local[<cores>]), which sets up a Spark
session, warms up, runs closed-loop passes over the workload for
--seconds and writes a record. This script then checks the results
against their DuckDB oracles, computes the metrics and prints them; the
last line of standard output is the result object.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones from the listener-traced passes. Everything the
run writes stays under .bench_build/perfbench/ in the checkout. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("library_ops", "stream_slices")
# the sf0.1 tables of the project's test data (TESTDATA.md)
DEFAULT_DATA = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
JVM_TIMEOUT_S = 165
HEAP = "4g"
BUILD_TIMEOUT_S = 700
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Run cmd to completion and return its exit code. On a timeout, or
    when this script is told to stop, the child is killed and waited for."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise
    finally:
        for s, h in old.items():
            signal.signal(s, h)


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def build():
    """Compile with sbt when a source changed; return the classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        try:
            code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=log,
                             stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail(f"the build did not finish within {BUILD_TIMEOUT_S} s (log: {log_path})")
    with open(log_path) as fh:
        lines = fh.read().strip().splitlines()
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


# --------------------------------------------------------------- oracle

def oracle_rows(check, con, data, name, sql):
    """The oracle's rendered result, cached per data set, SQL text and
    version of scripts/check.py."""
    with open(check.__file__, "rb") as fh:
        rules = hashlib.sha256(fh.read()).hexdigest()
    key = hashlib.sha256("\0".join((os.path.realpath(data), sql, rules)).encode()).hexdigest()[:24]
    path = os.path.join(WORK, "oracle", f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    cols, rows, _ = check.fetch(con, sql, oracle_side=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump([cols, rows], fh)
    return [cols, rows]


def check_oracles(check, record, run_dir):
    """Compare every item's first successful result with its oracle by
    the rules of scripts/check.py, the corpus's correctness gate: its
    fetch() renders both sides, and a decimal column on the Spark side
    fails (check.py's REPR-RISK). Returns {item: reason} for the items
    that fail."""
    oracle = record["workload_detail"].get("oracle", {})
    if not oracle:
        return {}
    con = check.duckdb.connect()
    con.execute("SET threads TO 2")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{record['data']}/{t}.parquet'")
    bad = {}
    for name, sql in sorted(oracle.items()):
        res = os.path.join(run_dir, "results", name)
        if not glob.glob(os.path.join(res, "*.parquet")):
            continue  # never succeeded: every execution already failed
        try:
            gc, gr, gdec = check.fetch(con, f"SELECT * FROM '{res}/*.parquet'", oracle_side=False)
            ec, er = oracle_rows(check, con, record["data"], name, sql)
        except Exception as e:  # noqa: BLE001 - reported as the item's failure
            bad[name] = f"oracle check failed: {e}"
            continue
        if gdec:
            bad[name] = f"Spark output still decimal: {sorted(gdec)} (REPR-RISK in scripts/check.py)"
        elif gc != ec:
            bad[name] = f"columns {gc} vs oracle {ec}"
        elif len(gr) != len(er):
            bad[name] = f"{len(gr)} rows vs oracle {len(er)}"
        else:
            diff = next((i for i, (a, b) in enumerate(zip(gr, er)) if a != b), None)
            if diff is not None:
                bad[name] = f"row {diff} differs from the oracle: {gr[diff][:4]} vs {er[diff][:4]}"
    con.close()
    return bad


# -------------------------------------------------------------- metrics

MIN_PASSES = 2  # perfbench.Main runs at least this many timed passes


def percentile(samples, pct):
    """Linear interpolation between closest ranks."""
    s = sorted(samples)
    r = pct / 100 * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def tail_percentile(units_per_pass):
    """The highest percentile with at least ten samples beyond it in the
    fewest samples a run takes. Fixed per workload, so that every run
    reports the same percentile. At the run length of BENCHMARK.json a
    run takes 22 or 24 samples, so this is p54.5 or p58.3: the upper
    half of the per-item times, not a tail."""
    n = MIN_PASSES * units_per_pass
    return 100.0 * (n - 10) / n


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(record, passes, failed_items, slices):
    def ok(x):
        return x["error"] is None and x["item"] not in failed_items

    pass_s = [sum(x["wall_s"] for x in p["execs"] if ok(x)) for p in passes]
    cpu_s = [sum(x["cpu_s"] for x in p["execs"] if ok(x)) for p in passes]
    jit_s = [sum(x["jit_s"] for x in p["execs"] if ok(x)) for p in passes]
    samples = []
    for p in passes:
        for x in p["execs"]:
            if ok(x):
                samples += x["batches_s"] if slices else [x["wall_s"]]
    wd = record["workload_detail"]
    units = len(record["items"]) * (wd["slices"] if slices else 1)
    tail_pct = tail_percentile(units)
    setup = record["setup"]
    setup_s = setup["session_s"] + setup["load_s"] + setup["warmup_s"]
    p50 = statistics.median(samples)
    tail_v = percentile(samples, tail_pct)
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "pass_s": metric(statistics.median(pass_s), "s"),
        "query_p50_s": metric(p50, "s"),
        "query_tail_s": metric(tail_v, "s"),
        "cpu_s": metric(statistics.median(cpu_s), "s"),
    }
    detail = {"query_tail_percentile": tail_pct, "query_samples": len(samples),
              "passes": len(passes), "pass_s_all": pass_s,
              "jit_s": statistics.median(jit_s)}
    if slices:
        events = wd["events"]
        n_ops = len(wd["operators"])
        detail.update({
            "batch_p50_ms": p50 * 1e3, "batch_tail_ms": tail_v * 1e3,
            "batch_tail_percentile": tail_pct, "batch_samples": len(samples),
            "events_per_s": n_ops * events / statistics.median(pass_s)})
    return metrics, detail


LAYER_SUMS = [
    "queries.build_s", "queries.materialise_s", "queries.self_s",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "plans.query_executions", "plans.self_s",
    "plans.rule_effective.GateBroadcastHints", "plans.rule_effective.SplitDistinctAggRule",
    "plans.rule_effective.AsOfJoinRule",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.idle_s",
    "scheduler.self_s",
    "executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.self_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "shuffle.spill_mb",
    "streaming.batches", "streaming.empty_batches", "streaming.late_rows_dropped",
    "streaming.self_s",
]
PER_BATCH = ["streaming.addBatch_ms", "streaming.queryPlanning_ms", "streaming.walCommit_ms",
             "streaming.commitOffsets_ms", "streaming.source_ms", "streaming.state_rows",
             "streaming.state_mem_mb", "streaming.state_commit_ms"]
UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_frac": "frac", "_util": "frac", "_rows": "count"}


def unit_of(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def per_layer(record, passes, failed_items):
    """Per traced pass: the sums over its successful item executions,
    averaged over the traced passes; streaming timings and state per
    batch; the untraced passes of the same run give the overhead."""
    cores = record["cores"]

    def ok(x):
        return x["error"] is None and x["item"] not in failed_items

    def pass_s(p):
        return sum(x["wall_s"] for x in p["execs"] if ok(x))

    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    acc = {k: 0.0 for k in LAYER_SUMS + PER_BATCH + ["streaming.trigger_ms"]}
    stream_wall_ms = stream_items = 0.0
    for p in traced:
        for x in p["execs"]:
            if not ok(x):
                continue
            for k in acc:
                acc[k] += x["layers"].get(k, 0.0)
            if x["layers"].get("streaming.batches", 0) > 0:
                stream_wall_ms += x["wall_s"] * 1e3
                stream_items += 1
    n = len(traced)
    out = {k: acc[k] / n for k in LAYER_SUMS}
    batches = acc["streaming.batches"]
    for k in PER_BATCH:
        out[k] = acc[k] / batches if batches else 0.0
    out["streaming.outside_batch_ms"] = \
        (stream_wall_ms - acc["streaming.trigger_ms"]) / stream_items if stream_items else 0.0
    traced_s = statistics.median(pass_s(p) for p in traced)
    untraced_s = statistics.median(pass_s(p) for p in untraced)
    out["executor.slot_util"] = out["executor.run_s"] / (traced_s * cores)
    # the rest of an item's wall time is the benchmark's own work inside
    # the item window (dropping a view, deleting a checkpoint)
    self_sum = sum(out[f"{layer}.self_s"] for layer in
                   ("executor", "plans", "scheduler", "streaming", "queries"))
    out["trace.pass_s"] = traced_s
    out["trace.untraced_pass_s"] = untraced_s
    out["trace.self_sum_frac"] = self_sum / traced_s
    out["trace_overhead_frac"] = traced_s / untraced_s - 1.0
    return {k: metric(v, unit_of(k)) for k, v in sorted(out.items())}


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA,
                    help="directory of the input parquet tables (default %(default)s)")
    a = ap.parse_args()
    cores = len(os.sched_getaffinity(0))

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala: run from a checkout of the repository")
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check  # scripts/check.py: the tables and the oracle rendering rules
    missing = [t for t in check.TABLES if not os.path.isfile(os.path.join(a.data, f"{t}.parquet"))]
    if missing:
        fail(f"input tables missing in {a.data}: {missing}")
    os.makedirs(WORK, exist_ok=True)
    classpath = build()

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), os.path.abspath(a.data), run_dir, str(cores)]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        try:
            code = run_child(cmd, JVM_TIMEOUT_S, cwd=run_dir, stdout=log,
                             stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail(f"the benchmark JVM did not finish within {JVM_TIMEOUT_S} s (log: {log_path})")
    record_path = os.path.join(run_dir, "record.json")
    if code != 0 or not os.path.exists(record_path):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"the benchmark JVM failed with exit code {code} (log: {log_path})")
    with open(record_path) as fh:
        record = json.load(fh)

    oracle_bad = check_oracles(check, record, run_dir)
    for d in ("results", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    slices = a.workload == "stream_slices"
    passes = record["passes"]
    failures = []
    attempted = failed = 0
    for p in passes:
        for x in p["execs"]:
            units = record["workload_detail"]["slices"] if slices else 1
            attempted += units
            why = x["error"] or oracle_bad.get(x["item"])
            if why is not None:
                failed += units
                failures.append({"item": x["item"], "pass": p["index"], "reason": why})
    failed_items = set(oracle_bad)

    if a.trace:
        metrics = per_layer(record, passes, failed_items)
        detail = {}
    else:
        metrics, detail = end_to_end(record, passes, failed_items, slices)
    detail.update({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "failed_frac": failed / attempted if attempted else 1.0,
        "failures": failures, "warmup_errors": record["warmup_errors"],
        "setup": record["setup"], "measured_s": record["measured_s"],
        "health": record["health"], "record": os.path.relpath(run_dir, ROOT)})
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump({"metrics": metrics, "detail": detail}, fh, indent=1)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
