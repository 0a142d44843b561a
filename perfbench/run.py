#!/usr/bin/env python3
"""Benchmark of the CDC engine: one command, two workloads.

    python3 perfbench/run.py --workload board|cdc \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The engine and the harness (an sbt project
in this directory that depends on the engine's root build) are compiled from
source on first use and cached under `.bench_build/`. Each run generates its
inputs from the seed, runs the workload in a fresh JVM, checks every output
against an oracle, prints every metric with its unit, and ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}. With `--trace 1` the
metrics are the per-layer ones, and the full trace (per-layer metrics, one
row per query execution or micro-batch, spans, tracing overhead) is written
to `.bench_build/trace/<workload>-seed<N>.json`.
"""
import argparse
import glob
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

import oracle
import tables

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
# Spark runs on two cores. With the JIT's and the collector's threads capped
# at two as well, the benchmark's busy threads fit a 4-core machine, so a
# neighbour's load moves it less.
CORES = 2
HEAP = "2g"

# The board's input: fixed, so that its oracle digests can be stored. The
# run's seed draws the order queries run in.
BOARD_DATA_SEED = 42
BOARD_ROWS = dict(n_events=20000, n_users=300, n_docs=1000, n_vecs=500)

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


def source_digest():
    """Hash of every input of the build, to reuse a cached build safely."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine and harness if their sources changed; returns the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to the benchmark (build.sbt, src/main/scala)")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "build.json")
    digest = source_digest()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest and all(
                os.path.exists(p) for p in stamp["classpath"].split(os.pathsep)[:2]):
            return stamp["classpath"]
    log("perfbench: building engine and harness with sbt")
    t = time.time()
    proc = spawn(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("build timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        log(out[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    with open(stamp_file, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath, "build_s": time.time() - t}, fh)
    return classpath


CHILDREN = []


def spawn(cmd, **kw):
    """Start a child in its own process group, remembered so that it is
    stopped with us."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.append(proc)
    return proc


def stop(proc):
    """Kill a child's whole process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def on_signal(signum, _frame):
    for proc in CHILDREN:
        if proc.poll() is None:
            stop(proc)
    sys.exit(128 + signum)


def java(classpath, main, args, log_path, limit_s):
    # a fixed, pre-touched heap: resident memory then moves with what the
    # engine holds off-heap and in native code, not with when GC ran.
    # Temporary files (RocksDB's native library among them) stay in the
    # checkout.
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Two JIT compiler and two collector threads (see CORES).
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
           "-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2",
           "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    with open(log_path, "w") as out:
        proc = spawn(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(limit_s, 1))
        except subprocess.TimeoutExpired:
            stop(proc)
            return None
    return code


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- output

def metric_lines(title, metrics):
    """Human-readable lines, one per metric, each with its unit."""
    lines = [title]
    for name in sorted(metrics):
        m = metrics[name]
        value = "missing" if m["value"] is None else f"{m['value']:.6g}"
        lines.append(f"  {name:<44} {value:>14} {m['unit']}")
    return lines


def final_line(correct, attempted, failed, metrics):
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})


def select(bench, section, values):
    """The BENCHMARK.json metrics of `section`, valued from `values`."""
    out = {}
    for m in bench[section]:
        v = values.get(m["name"])
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def complete(metrics):
    return all(isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
               for m in metrics.values())


def tracing_overhead(workload, traced_e2e):
    """Traced end-to-end values minus the median of this workload's
    untraced runs recorded so far, per metric; None before any."""
    runs = []
    for f in glob.glob(os.path.join(BUILD, "results", f"{workload}-seed*-trace0.json")):
        with open(f) as fh:
            runs.append(json.load(fh))
    if not runs:
        return None
    out = {}
    for k, v in traced_e2e.items():
        base = statistics.median(r[k] for r in runs if k in r)
        out[k] = {"traced": v, "untraced_median": base, "untraced_runs": len(runs),
                  "delta": v - base, "delta_pct": 100.0 * (v - base) / base if base else None}
    return out


def run(args):
    bench = load_benchmark()
    workloads = [w["name"] for w in bench["workloads"]]
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; expected one of {workloads}")
    classpath = build()
    t0_ms = time.time() * 1000.0  # set-up starts after the one-off build
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data_dir = os.path.join(run_dir, "data")
    if args.workload == "board":
        tables.write_all(data_dir, BOARD_DATA_SEED, **BOARD_ROWS)
    out_path = os.path.join(run_dir, "result.json")
    jargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", data_dir, "--work", run_dir, "--out", out_path,
             "--t0-ms", repr(t0_ms), "--cores", str(CORES)]
    log_path = os.path.join(BUILD, f"last-{args.workload}.log")
    limit = RUN_LIMIT_S - (time.time() * 1000.0 - t0_ms) / 1000.0
    code = java(classpath, "perfbench.Main", jargs, log_path, limit)
    if code != 0 or not os.path.isfile(out_path):
        with open(log_path) as fh:
            log(fh.read()[-4000:])
        fail(f"harness exited with {code}; log in {log_path}")
    with open(out_path) as fh:
        result = json.load(fh)

    errors = list(result["errors"])
    failed = result["failed"]
    if args.workload == "board":
        oracle_fails = oracle.check(result["oracle"]["results"], result["oracle"]["sql"])
        errors += oracle_fails
        failed += len(oracle_fails)
    attempted = result["attempted"]
    shutil.rmtree(run_dir, ignore_errors=True)

    e2e = result["e2e"]
    e2e_metrics = select(bench, "end_to_end", e2e)
    lines = metric_lines(f"{args.workload} seed={args.seed} end-to-end"
                         + (" (traced)" if args.trace else ""), e2e_metrics)
    lines += metric_lines("readings", result["readings"])
    lines.append(f"  {'error_rate':<44} {failed / max(attempted, 1):>14.6g} ratio"
                 f" ({failed} of {attempted} operations)")
    for e in errors[:20]:
        lines.append("  error: " + e)

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    if args.trace:
        layers = result["layers"]
        lines += metric_lines("per-layer", layers)
        values = {k: v["value"] for k, v in layers.items()}
        metrics = select(bench, "per_layer", values)
        os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
        artifact = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "end_to_end_traced": e2e, "readings": result["readings"], "layers": layers,
            "tracing_overhead": tracing_overhead(args.workload, e2e),
            "attempted": attempted, "failed": failed, "errors": errors,
            "rows": result["rows"], "spans": result["spans"]}
        path = os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(artifact, fh)
        lines.append(f"trace written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = e2e_metrics
        with open(os.path.join(BUILD, "results",
                               f"{args.workload}-seed{args.seed}-trace0.json"), "w") as fh:
            json.dump(e2e, fh)
    print("\n".join(lines))
    print(final_line(failed == 0 and complete(metrics), attempted, failed, metrics), flush=True)


def selftest():
    """The benchmark's own checks: the JVM-side ones (wire determinism,
    percentile helper, freshness from due time) and the output format."""
    classpath = build()
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "selftest.log")
    code = java(classpath, "perfbench.SelfTest", [], log_path, RUN_LIMIT_S)
    with open(log_path) as fh:
        print(fh.read(), end="")
    bench = load_benchmark()
    ok = code == 0
    for section in ("end_to_end", "per_layer"):
        values = {m["name"]: 1.5 for m in bench[section]}
        metrics = select(bench, section, values)
        text = "\n".join(metric_lines(section, metrics))
        last = json.loads(final_line(True, 1, 0, metrics))
        for m in bench[section]:
            line = next((l for l in text.splitlines() if l.split()[:1] == [m["name"]]), "")
            good = line.endswith(" " + m["unit"]) and last["metrics"][m["name"]]["unit"] == m["unit"]
            ok &= good
            if not good:
                print(f"FAIL {section} metric {m['name']} does not print with its unit")
    print("PASS every metric prints with its unit" if ok else "FAIL self-test")
    sys.exit(0 if ok else 1)


def make_oracle():
    """Regenerate the board's stored oracle digests with DuckDB."""
    classpath = build()
    work = os.path.join(BUILD, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    tables.write_all(data_dir, BOARD_DATA_SEED, **BOARD_ROWS)
    sql_path = os.path.join(work, "sql.json")
    if java(classpath, "perfbench.BoardSql", [sql_path], os.path.join(work, "jvm.log"),
            RUN_LIMIT_S) != 0:
        fail("could not read the board's oracle SQL")
    with open(sql_path) as fh:
        sqls = json.load(fh)
    made = oracle.make(data_dir, sqls, {"data_seed": BOARD_DATA_SEED, "data_rows": BOARD_ROWS})
    shutil.rmtree(work, ignore_errors=True)
    print(f"stored {len(made)} oracle digests in {os.path.relpath(oracle.ORACLE_FILE, ROOT)}")


def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=9)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--make-oracle", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        selftest()
    elif args.make_oracle:
        make_oracle()
    elif not args.workload:
        ap.error("--workload is required")
    else:
        run(args)


if __name__ == "__main__":
    main()
