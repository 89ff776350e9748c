#!/usr/bin/env python3
"""graft benchmark: one workload run, from a checkout of the repository.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 18 --trace 0

Builds the engine and the harness from source (sbt, once per checkout),
generates the input tables (once per checkout), then starts one JVM that
runs the workload's queries in a closed loop with one client
(perfbench/src/main/scala/perfbench/Main.scala). Every run gets a fresh,
empty java.io.tmpdir and Spark local dir, removed at the end, so graft's
on-disk caches are rebuilt inside set-up every time.

Set-up ends after one prime pass and one warm pass, both untimed. The
seed orders the queries inside each pass. Outputs are checked against
perfbench/expected.json: the row count of every warm and timed
execution, and once per query per run the content fingerprint. The
last stdout line is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics (from a run with listeners attached) with --trace 1.
The exit code is nonzero when an output is wrong or the run cannot
complete.

--record rewrites expected.json entries for the workload's queries from
this run's prime pass; use it only after checking those results against
the DuckDB oracle (see perfbench/NOTES.md).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
WORK = BENCH / "work"
CLASSPATH = BENCH / "target" / "classpath.txt"
# The harness JVM is stopped after this long, so that the whole run ends
# within three minutes; a normal run takes less than half of it.
JVM_DEADLINE_S = 170
# -Xms fixes the heap size so that GC sizing does not drift during a run;
# CompileThresholdScaling makes the JIT compile hot code ten times sooner,
# so that pass times level off within a few passes.
JVM_FLAGS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xmx2g", "-Xms2g", "-XX:CompileThresholdScaling=0.1", "-XX:-UsePerfData",
     "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
# Per-layer metrics printed by a traced run, with their units.
PER_LAYER = {
    "Tables.rows_read": "count", "Tables.bytes_read_mb": "MB",
    "SparkEntry.build_s": "s", "SparkEntry.build_jobs": "count",
    "plans.planning_s": "s", "plans.sql_execs": "count",
    "plans.aqe_updates": "count", "plans.exchanges": "count",
    "ops.in_job_s": "s", "ops.task_s": "s", "ops.parallelism": "ratio",
    "ops.stages": "count", "ops.tasks": "count", "ops.shuffle_read_mb": "MB",
    "ops.shuffle_write_mb": "MB", "ops.spill_mb": "MB", "ops.gc_s": "s",
    "ops.peak_mem_mb": "MB", "ops.task_retries": "count",
    "driver.gap_s": "s", "driver.jobs": "count",
    "streaming.batches": "count",
    "storage.bytes_written_mb": "MB", "storage.files_written": "count",
    "storage.pinned_mb": "MB", "storage.scratch_mb": "MB",
    "jvm.heap_peak_mb": "MB", "trace.sweep_s": "s", "trace.wall_s": "s",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = sorted(base.rglob("*")) if base.is_dir() else [base]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged."""
    stamp = WORK / "build.stamp"
    digest = tree_hash([ENGINE_SRC, ROOT / "build.sbt", BENCH / "src" / "main",
                        BENCH / "build.sbt", BENCH / "project" / "build.properties"])
    if CLASSPATH.exists() and stamp.exists() and stamp.read_text() == digest:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log = WORK / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=700).returncode
    if rc != 0:
        sys.stderr.write(log.read_text()[-3000:])
        fail(f"build failed (rc {rc}), log in {log}")
    stamp.write_text(digest)
    return CLASSPATH.read_text().strip()


def tables(scale):
    """The input tables at `scale`, generated once per checkout (seed 42)."""
    out = WORK / "data" / f"sf{scale}"
    stamp = out / "stamp"
    digest = tree_hash([BENCH / "gen_data.py"])
    if not (stamp.exists() and stamp.read_text() == digest):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, str(BENCH / "gen_data.py"), str(out),
                        "--seed", "42", "--scale", str(scale)], check=True)
        stamp.write_text(digest)
    return out


def run_jvm(classpath, spec, data, args, passes, run_dir):
    """Start the harness JVM; return (setup seconds, raw result)."""
    tmp, local = run_dir / "tmp", run_dir / "local"
    for d in (tmp, local):
        d.mkdir(parents=True)
        assert not any(d.iterdir()), f"{d} is not empty"
    cmd = ["java", *JVM_FLAGS,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           f"-Dderby.system.home={run_dir / 'derby'}",
           "-cp", classpath, "perfbench.Main",
           "--queries", ",".join(spec["queries"]), "--data", str(data),
           "--seed", str(args.seed), "--passes", str(passes),
           "--trace", str(args.trace),
           "--spans", str(WORK / "trace" / f"{args.workload}-seed{args.seed}.spans.jsonl")]
    started = time.perf_counter()
    setup_s, result, timed_out = None, None, threading.Event()
    with open(run_dir / "jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, cwd=run_dir)
        watchdog = threading.Timer(JVM_DEADLINE_S, lambda: (timed_out.set(), proc.kill()))
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.startswith("perfbench-ready"):
                    setup_s = time.perf_counter() - started
                elif line.startswith("perfbench-result "):
                    result = json.loads(line[len("perfbench-result "):])
            rc = proc.wait()
        finally:
            watchdog.cancel()
            proc.kill()
            proc.wait()
    if timed_out.is_set():
        fail(f"harness JVM timed out after {JVM_DEADLINE_S} s and was stopped "
             f"({'in' if setup_s is None else 'after'} set-up); the run is too slow "
             "to measure, not a crash")
    if rc != 0 or result is None or setup_s is None:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-3000:])
        fail(f"harness JVM failed (rc {rc})")
    return setup_s, result


def check(result, expected):
    """Compare outputs with expected.json; return (attempted, failed, problems)."""
    problems = []
    for p in result["prime"]:
        want = expected.get(p["query"])
        if want is None:
            problems.append(f"{p['query']}: no expected output recorded")
        elif "error" in p:
            problems.append(f"{p['query']}: {p['error']}")
        elif (p["rows"], p["fingerprint"]) != (want["rows"], want["fingerprint"]):
            problems.append(f"{p['query']}: rows {p['rows']} fingerprint "
                            f"{p['fingerprint']}, expected {want['rows']} "
                            f"{want['fingerprint']}")
    runs = [("warm", t) for t in result["warm"]] + [("timed", t) for t in result["timed"]]
    for kind, t in runs:
        want = expected.get(t["query"], {}).get("rows")
        if "error" in t:
            problems.append(f"{t['query']} {kind} pass {t['pass']}: {t['error']}")
        elif t["rows"] != want:
            problems.append(f"{t['query']} {kind} pass {t['pass']}: "
                            f"{t['rows']} rows, expected {want}")
    return len(result["prime"]) + len(runs), len(problems), problems


def end_to_end(setup_s, result):
    """The gated end-to-end metrics: name -> (value, unit)."""
    secs = [t["seconds"] for t in result["timed"]]
    by_query = {}
    for t in result["timed"]:
        by_query.setdefault(t["query"], []).append(t["seconds"])
    return {
        "setup_s": (setup_s, "s"),
        "sweep_s": (statistics.median(result["passes"]), "s"),
        "query_p50_s": (statistics.median(secs), "s"),
        "query_geomean_s": (math.exp(statistics.fmean(
            math.log(statistics.median(v)) for v in by_query.values())), "s"),
    }


def tail_note(result):
    """query_tail_s: the highest percentile with at least ten samples above it."""
    s = sorted(t["seconds"] for t in result["timed"])
    if len(s) < 11:
        return f"query_tail_s n/a: {len(s)} timed executions, fewer than 11"
    k = len(s) - 11
    return f"query_tail_s {s[k]:.6g} s (p{100.0 * (k + 1) / len(s):.1f} of {len(s)} timed executions)"


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    if not (ENGINE_SRC / "graft" / "SparkEntry.scala").is_file():
        fail(f"engine sources not found under {ENGINE_SRC}; run from a checkout")
    workloads = json.loads((BENCH / "workloads.json").read_text())["workloads"]
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    spec = workloads[args.workload]
    for d in ("data", "runs", "trace"):
        (WORK / d).mkdir(parents=True, exist_ok=True)

    classpath = build()
    data = tables(spec["scale"])
    passes = max(2, round(args.seconds / spec["nominal_pass_s"]))
    run_dir = WORK / "runs" / uuid.uuid4().hex
    try:
        setup_s, result = run_jvm(classpath, spec, data, args, passes, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    expected_path = BENCH / "expected.json"
    expected = json.loads(expected_path.read_text())
    if args.record:
        for p in result["prime"]:
            if "error" in p:
                fail(f"cannot record {p['query']}: {p['error']}")
            expected[p["query"]] = {"scale": spec["scale"], "rows": p["rows"],
                                    "fingerprint": p["fingerprint"]}
        expected_path.write_text(json.dumps(dict(sorted(expected.items())), indent=1) + "\n")
        print(f"recorded {len(result['prime'])} queries in {expected_path}")
        return

    attempted, failed, problems = check(result, expected)
    for p in problems:
        print(f"WRONG {p}")
    if args.trace:
        layers = result["layers"]
        summary = WORK / "trace" / f"{args.workload}-seed{args.seed}.json"
        summary.write_text(json.dumps({
            "layers": layers, "queries": result["query_layers"],
            "prime_s": {p["query"]: p.get("seconds") for p in result["prime"]}}, indent=1))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        print(f"{args.workload}: spans and per-query layers in {summary.parent}")
    else:
        e2e = end_to_end(setup_s, result)
        for k, (v, u) in e2e.items():
            print(f"{args.workload} {k} {v:.6g} {u}")
        print(f"{args.workload} error_rate {failed / attempted:.6g} ratio")
        print(f"{args.workload} {tail_note(result)}")
        print(f"{args.workload} passes (s): "
              + " ".join(f"{x:.3f}" for x in result["passes"]))
        for q in spec["queries"]:
            print(f"{args.workload} {q} (s): " + " ".join(
                f"{t['seconds']:.3f}" for t in result["timed"] if t["query"] == q))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
