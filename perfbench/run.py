#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload kernels|loops --seed N \
        --seconds S --trace 0|1

Builds the library and the harness from source (once per checkout, into
$CARGO_TARGET_DIR or .bench_build), generates the workload's inputs from the
seed, runs the JVM harness (perfbench/src), checks every operation's output,
and prints a summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. See perfbench/README.md for what each means.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

DEADLINE_S = 160          # the JVM's share of the 180 s a run may take
BUILD_DEADLINE_S = 850    # the first run in a checkout may take 900 s
KERNEL_M, KERNEL_N = 512, 2000
KERNELS = ["attention", "mlp", "xentropy", "entropy", "sampler"]
LOOPS = ["parts_kcore", "heavy_hitters_stream"]

END_TO_END = [("wall_s", "s"), ("setup_s", "s"), ("live_heap_mb", "MB")]
LAYER_UNITS = {
    "queries.build_s": "s", "queries.sink_s": "s", "queries.outside_exec_s": "s",
    "catalyst.plan_s": "s", "catalyst.n_exec": "count",
    "scheduler.job_s": "s", "scheduler.exec_no_job_s": "s",
    "scheduler.task_overhead_s": "s", "scheduler.n_jobs": "count",
    "scheduler.n_stages": "count", "scheduler.n_tasks": "count",
    "operators.shuffle_write_mb": "MB", "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB", "operators.n_exchanges": "count",
    "operators.memo_build_s": "s", "operators.memo_builds": "count",
    "operators.memo_hits": "count", "operators.memo_hit_ratio": "ratio",
    "functions.task_s": "s", "functions.gc_s": "s", "functions.slot_util": "ratio",
    "sources.input_mb": "MB", "sources.output_mb": "MB",
    "streaming.n_batches": "count", "streaming.batch_s": "s",
    "streaming.rows_in": "count",
    "jvm.jit_ms": "ms",
    "trace.overhead_frac": "ratio",
    "selfcheck.ok": "bool",
    "machine.busy_excess": "ratio",
    "kernel.pairs_per_s": "1/s",
}
for _k in KERNELS:
    LAYER_UNITS[f"kernel.{_k}.blocked.pairs_per_s"] = "1/s"
    LAYER_UNITS[f"kernel.{_k}.broadcast.pairs_per_s"] = "1/s"
    LAYER_UNITS[f"kernel.{_k}.ratio"] = "ratio"
    LAYER_UNITS[f"kernel.{_k}.l0.pairs_per_s_core"] = "1/s"
OP_NAMES = [f"{k}.{a}" for k in KERNELS for a in ("blocked", "broadcast")] + LOOPS
for _o in OP_NAMES:
    LAYER_UNITS[f"op.{_o}.wall_s"] = "s"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def build_dir():
    d = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    os.makedirs(d, exist_ok=True)
    return d


def source_fingerprint():
    h = hashlib.sha1()
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for dirpath, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(dirpath, n), ROOT) for n in names]
    for rel in sorted(files):
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, out_path):
    """Run cmd in its own process group, output to out_path; kill the whole
    group if it outlives timeout. Returns the exit code (None on timeout)."""
    with open(out_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(bdir):
    """Compile library and harness with sbt; returns the runtime classpath."""
    stamp = os.path.join(bdir, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("fingerprint") == fp:
            return s["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.offline=true",
           "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
    out = os.path.join(bdir, "build.log")
    t0 = time.time()
    code = run_bounded(cmd, HERE, env, BUILD_DEADLINE_S, out)
    with open(out, errors="replace") as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = lines[-1] if lines else ""
    if code != 0 or "perfbench" not in cp or " " in cp:
        sys.exit(f"perfbench: build failed (exit {code}); see {out}")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def inputs(d, workload, seed, ncores):
    """Generate the run's inputs into d; returns the seconds it took."""
    t0 = time.time()
    if workload == "kernels":
        gen.kernel_inputs(d, seed, KERNEL_M, KERNEL_N, ncores)
    else:
        gen.fixture(d, seed)
    return time.time() - t0


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = lambda v: ("nan" if math.isnan(v) else 0.0 if v == 0.0 else v) \
        if isinstance(v, float) else v
    out = sorted((tuple(norm(r[i]) for i in order) for r in rows),
                 key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def oracle_check(data, rundir, oracle, ncores):
    """Compare each op's written output with its DuckDB oracle on the same
    generated tables: columns sorted by name, rows by value, exact values.
    Returns the failure messages."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {ncores}")
    for t in gen.FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    fails = []
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{rundir}/check/{name}/*.parquet')")
            gc, gr = canon(got.fetchall(), [d[0] for d in got.description])
            exp = con.execute(sql)
            ec, er = canon(exp.fetchall(), [d[0] for d in exp.description])
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            fails.append(f"oracle {name}: {e}")
            continue
        if gc != ec:
            fails.append(f"oracle {name}: columns {gc} vs {ec}")
        elif gr != er:
            diff = next(((a, b) for a, b in zip(gr, er) if a != b), (len(gr), len(er)))
            fails.append(f"oracle {name}: {len(gr)} vs {len(er)} rows, first diff {diff}")
    return fails


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["kernels", "loops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found under {ROOT}; "
                     "run from the root of a graft checkout")

    bdir = build_dir()
    cp = build(bdir)
    t_built = time.time()  # the run's time limit counts from here
    ncores = cores()
    rundir = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(os.path.join(rundir, "tmp"))
    data = os.path.join(rundir, "inputs")
    gen_s = inputs(data, a.workload, a.seed, ncores)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed, pre-touched heap: no pass pays for growing it
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
        # no concurrent GC threads and two JIT threads: less background work
        # competing with the task threads halves the run-to-run spread
        "-XX:+UseParallelGC", "-XX:CICompilerCount=2",
        f"-Djava.io.tmpdir={rundir}/tmp", f"-Dderby.system.home={rundir}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Harness",
        a.workload, data, rundir, str(a.seconds), str(a.trace), str(ncores)]
    env = dict(os.environ, GRAFT_SCRATCH_DIR=os.path.join(rundir, "tmp"))
    t_jvm = time.time()
    code = run_bounded(cmd, rundir, env, DEADLINE_S - (t_jvm - t_built),
                       os.path.join(rundir, "harness.log"))
    jvm_s = time.time() - t_jvm
    result_path = os.path.join(rundir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        sys.exit(f"perfbench: harness failed (exit {code}); see {rundir}/harness.log")
    with open(result_path) as f:
        r = json.load(f)

    failures = list(r["failures"])
    t_check = time.time()
    if a.workload == "loops":
        failures += oracle_check(data, rundir, r["oracle"], ncores)
    check_s = time.time() - t_check + r["check_s"]
    for d in ("tmp", "check", "inputs", "warehouse"):
        shutil.rmtree(os.path.join(rundir, d), ignore_errors=True)
    for f in failures:
        log(f"FAIL {f}")

    warm = [p for p in r["passes"] if p["kind"] == "warm"]
    wall = median([p["wall_s"] for p in warm])
    op_wall = {}
    for p in warm:
        for o in p["ops"]:
            op_wall.setdefault(o["name"], []).append(o["wall_s"])
    op_wall = {k: median(v) for k, v in op_wall.items()}
    pairs = KERNEL_M * KERNEL_N
    pairs_per_s = len(op_wall) * pairs / wall if a.workload == "kernels" else 0.0
    attempted = int(r["attempted"])
    failed = len(failures)
    e2e = {"wall_s": wall, "setup_s": r["setup_s"], "live_heap_mb": r["live_heap_mb"]}

    # machine state next to each sample, in the run's artifact
    samples = [{k: p[k] for k in ("kind", "wall_s", "busy_excess", "loadavg", "jit_ms",
                                  "live_heap_mb", "quiesce_s")}
               for p in r["passes"]]
    busy = median([p["busy_excess"] for p in warm])
    summary = {"workload": a.workload, "seed": a.seed, "cores": ncores, "trace": a.trace,
               "end_to_end": e2e, "pairs_per_s": pairs_per_s,
               "ops_failed_frac": failed / max(attempted, 1),
               "peak_rss_mb": r["peak_rss_mb"], "session_start_s": r["session_s"],
               "gen_s": gen_s, "check_s": check_s, "jvm_s": jvm_s,
               "op_wall_s": op_wall, "samples": samples, "failures": failures}

    if a.trace:
        layers = dict(r["layers"])
        if a.workload == "kernels":
            for k in KERNELS:
                b, c = op_wall.get(f"{k}.blocked", 0.0), op_wall.get(f"{k}.broadcast", 0.0)
                layers[f"kernel.{k}.blocked.pairs_per_s"] = pairs / b if b else 0.0
                layers[f"kernel.{k}.broadcast.pairs_per_s"] = pairs / c if c else 0.0
                layers[f"kernel.{k}.ratio"] = b / c if c else 0.0
        layers["kernel.pairs_per_s"] = pairs_per_s
        for o in OP_NAMES:
            layers[f"op.{o}.wall_s"] = op_wall.get(o, 0.0)
        around = [warm[-1]["wall_s"]] + [p["wall_s"] for p in r["passes"] if p["kind"] == "after"]
        layers["trace.overhead_frac"] = layers.pop("trace.wall_s") / statistics.mean(around) - 1.0
        layers["selfcheck.ok"] = r["selfcheck_ok"]
        layers["machine.busy_excess"] = busy
        summary["layers"] = layers
        summary["selfcheck_notes"] = r["selfcheck_notes"]
        for n in r["selfcheck_notes"]:
            log(f"self-check: {n}")
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END}

    with open(os.path.join(rundir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(f"workload {a.workload} seed {a.seed} on {ncores} cores: "
          f"wall_s {wall:.3f} s per warm pass ({len(warm)} passes), "
          f"setup_s {e2e['setup_s']:.3f} s, live_heap_mb {e2e['live_heap_mb']:.1f} MB, "
          f"peak_rss_mb {r['peak_rss_mb']:.0f} MB, "
          + (f"pairs_per_s {pairs_per_s:.4g} 1/s, " if a.workload == "kernels" else "")
          + f"ops_failed_frac {failed / max(attempted, 1):.3f} ({failed}/{attempted}); "
          f"machine busy beyond own load {busy:.3f}, loadavg {warm[-1]['loadavg']}; "
          f"inputs {gen_s:.1f} s, checks {check_s:.1f} s; artifacts in {rundir}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
