#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles graft and the
benchmark (perfbench/build.py). The benchmark JVM runs a `GraftSession` with
one Spark core per CPU this process may use, drives the workload, checks
every output, and this script turns its raw outcome into metrics. The last
line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans, per-query rows, layer self times and the
tracing overhead (against an untraced run of the same workload and seed, if
one was made) go to .bench_build/perfbench-trace/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("nibbler_push", "sink_dedup", "ops_breadth")

END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"),
    ("retained_heap_mb", "MB"),
]

PER_LAYER = [
    ("setup.session_ms", "ms"), ("setup.warmup_ms", "ms"), ("setup.artifact_ms", "ms"),
    ("nibbler.push.calls", "count"), ("nibbler.push.block_ms", "ms"),
    ("nibbler.push.block_p99_ms", "ms"), ("nibbler.queue_wait_ms", "ms"),
    ("nibbler.flush.batch_full", "count"), ("nibbler.flush.ticker", "count"),
    ("nibbler.flush.items_mean", "count"), ("nibbler.processor.busy_ms", "ms"),
    ("stream.microbatches", "count"), ("stream.rows_per_microbatch", "count"),
    ("stream.latest_offset_ms", "ms"), ("stream.get_batch_ms", "ms"),
    ("stream.query_planning_ms", "ms"), ("stream.add_batch_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.trigger_ms", "ms"),
    ("source.files_written", "count"), ("source.backlog_files_max", "count"),
    ("generator.late_ms_p99", "ms"),
    ("sink.flush.batch_full", "count"), ("sink.flush.ticker", "count"),
    ("sink.processor_ms", "ms"), ("dedup.build_ms", "ms"), ("dedup.exec_ms", "ms"),
    ("dedup.pairs", "count"), ("dedup.exact_found_ratio", "ratio"),
    ("ops.construct_ms", "ms"), ("ops.construct_jobs", "count"),
    ("ops.queries_without_construct_job", "count"),
    ("ops.plan_ms", "ms"), ("ops.plan.analysis_ms", "ms"),
    ("ops.plan.optimization_ms", "ms"), ("ops.plan.planning_ms", "ms"),
    ("ops.exec_ms", "ms"), ("ops.exec_jobs", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.tasks_per_op", "count"), ("spark.task_wall_ms", "ms"),
    ("spark.task_run_ms", "ms"), ("spark.task_deserialize_ms", "ms"),
    ("spark.tasks_failed", "count"), ("spark.input_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms"), ("codegen.compiles", "count"),
]

# Spark 4 on JDK 17 outside spark-submit (same list as the project's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

TIMEOUT_S = 170


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def tail(lat):
    """Highest nearest-rank percentile with at least 10 samples beyond it."""
    n = len(lat)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(lat)
    if n <= 10:
        return s[-1], 100.0, 0
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n - 1 - i


def end_to_end(o):
    lat = o["latencies_ms"]
    value, pct, beyond = tail(lat)
    m = {
        "setup_s": o["setup"]["setup_s"],
        "ops_per_s": o["completed"] / o["window_s"] if o["window_s"] > 0 else 0.0,
        "latency_p50_ms": statistics.median(lat) if lat else 0.0,
        "latency_tail_ms": value,
        "retained_heap_mb": o["retained_heap_mb"],
    }
    return m, {"percentile": pct, "beyond": beyond, "samples": len(lat)}


def self_times(spans):
    """Per span name: total duration, self time (duration minus the part
    its children cover) and the Spark counters of the jobs it started."""
    kids = {}
    for s in spans:
        kids.setdefault(s.get("parent", 0), []).append(s)
    out = {}
    for s in spans:
        name = s["name"]
        row = out.setdefault(name, {"spans": 0, "total_ms": 0.0, "self_ms": 0.0, "spark": {}})
        for k, v in s.get("spark", {}).items():
            row["spark"][k] = row["spark"].get(k, 0.0) + v
        if name == "unattributed":
            continue
        covered = sum(c["dur_ms"] for c in kids.get(s["id"], []))
        row["spans"] += 1
        row["total_ms"] += s["dur_ms"]
        row["self_ms"] += max(0.0, s["dur_ms"] - covered)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-sleep-ms", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--plant-wrong-reference", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()
    started = time.time()

    for need in ("data/sf0.01/lineitem.parquet", "data/sf0.1/documents.parquet",
                 "reference/ops_breadth_rows.json"):
        if not os.path.exists(os.path.join(HERE, need)):
            sys.exit(f"perfbench: missing {need}")
    build.build()
    base = os.path.dirname(build.build_dir())
    work = os.path.join(base, "perfbench-run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_dir = os.path.join(base, "perfbench-trace")
    results_dir = os.path.join(base, "perfbench-results")
    os.makedirs(trace_dir, exist_ok=True)
    os.makedirs(results_dir, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}"
    spans_file = os.path.join(trace_dir, stem + ".spans.jsonl")
    outcome_file = os.path.join(work, "outcome.json")
    cores = len(os.sched_getaffinity(0))

    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false",
            "-Dspark.local.dir=" + os.path.join(work, "local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores),
            "--data", os.path.join(HERE, "data"), "--work", work, "--out", outcome_file,
            "--trace-out", spans_file,
            "--reference", os.path.join(HERE, "reference", "ops_breadth_rows.json")]
    if a.plant_sleep_ms:
        cmd += ["--plant-sleep-ms", str(a.plant_sleep_ms)]
    if a.plant_wrong_reference:
        cmd += ["--plant-wrong-reference"]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(10, TIMEOUT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: the benchmark JVM ran out of time")
    if code != 0 or not os.path.exists(outcome_file):
        sys.exit(f"perfbench: the benchmark JVM exited with code {code}")
    with open(outcome_file) as f:
        o = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    env = dict(o["env"], git_commit=git_commit(), trace=a.trace)
    e2e, tail_info = end_to_end(o)
    attempted, failed = int(o["attempted"]), int(o["failed"])
    failed_ratio = failed / attempted if attempted else 1.0
    correct = failed == 0 and attempted > 0 and tail_info["samples"] > 0
    print("perfbench env: " + json.dumps(env))
    for msg in o["failures"]:
        print("perfbench failure: " + msg)
    print(f"perfbench check: {'PASS' if correct else 'FAIL'} failed_ratio={failed_ratio:.6g} "
          f"({failed} of {attempted} operations)")
    print(f"perfbench latency_tail_ms = {e2e['latency_tail_ms']:.4f} ms at "
          f"p{tail_info['percentile']:.2f}, {tail_info['beyond']} samples beyond it, "
          f"{tail_info['samples']} samples in the window")
    with open(os.path.join(results_dir, f"{stem}-trace{a.trace}.json"), "w") as f:
        json.dump({"env": env, "metrics": e2e, "failed_ratio": failed_ratio}, f)

    if a.trace:
        layer = dict(o["setup"])
        layer.update(o["layer"])
        ops = o["completed"]
        layer["spark.tasks_per_op"] = layer.get("spark.tasks", 0.0) / ops if ops else 0.0
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}
        spans = []
        if os.path.exists(spans_file):
            with open(spans_file) as f:
                spans = [json.loads(line) for line in f if line.strip()]
        summary = {"env": env, "end_to_end": e2e, "tail": tail_info, "layer": layer,
                   "self_times": self_times(spans), "per_op": o["per_op"]}
        untraced = os.path.join(results_dir, f"{stem}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base_m = json.load(f)["metrics"]
            summary["tracing_overhead"] = {k: e2e[k] - base_m[k] for k in e2e}
            print("perfbench tracing overhead (traced - untraced): " +
                  json.dumps({k: round(v, 4) for k, v in summary["tracing_overhead"].items()}))
        else:
            print("perfbench tracing overhead: run --trace 0 with the same workload and seed first")
        with open(os.path.join(trace_dir, stem + ".summary.json"), "w") as f:
            json.dump(summary, f, indent=1)
        for name, row in sorted(summary["self_times"].items()):
            print(f"perfbench layer {name}: spans={row['spans']} total_ms={row['total_ms']:.1f} "
                  f"self_ms={row['self_ms']:.1f} jobs={row['spark'].get('jobs', 0):.0f} "
                  f"tasks={row['spark'].get('tasks', 0):.0f}")
        print("perfbench trace: " + os.path.relpath(os.path.join(trace_dir, stem), ROOT)
              + ".{spans.jsonl,summary.json}")
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
