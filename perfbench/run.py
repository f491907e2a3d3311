#!/usr/bin/env python3
"""The repository benchmark: one command, four workloads.

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program
together with the benchmark harness (sbt, in perfbench/); later runs
reuse the build while no source changed. Inputs are generated from
--seed (gen.py), the workload runs in one JVM (perfbench.Main),
outputs are checked against independent computations (checks.py), and
the last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a traced pass. The exit code is 0 only when every
operation and every output check succeeded.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["live_ingest", "archive_backfill"]
BUILD = os.path.join(HERE, "target", "bench-build.json")
# Fixed work (not a fixed deadline) keeps two commits comparable.
# live_ingest: a warm-up wave of one 100-event page (the reference
# polls per_page=100), then two timed waves of three pages. archive_backfill:
# two UTC days of hours (the reference's hourly scores live until the
# next midnight, so the second day is its full serving table); 500
# events per hour, far below a production GHArchive hour, to fit the
# run's time budget (README.md, "Sizes").
SIZES = {
    "live_ingest": dict(waves=3, drops_per_wave=3, per_drop=100, warm_drops=1),
    "archive_backfill": dict(hours=48, per_hour=500),
}
# The engine phases of archive_backfill: the table sizes of the
# repository's sf0.01 correctness fixture (TESTDATA.md), documents and
# events split into three drops.
CORPUS = dict(docs=500, events=10000, drops=3)
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MiB", "items_per_s": "1/s",
             "op_p50_ms": "ms", "work_s": "s"}
# Every per-layer metric a traced run prints, with its unit. A layer the
# workload does not call reads 0 (README.md maps layers to workloads).
PER_LAYER = {
    "session.jvm_boot_ms": "ms", "session.start_ms": "ms", "session.warmup_ms": "ms",
    "session.workload_warm_ms": "ms",
    "ingest.latestOffset_ms": "ms", "ingest.getBatch_ms": "ms",
    "ingest.queryPlanning_ms": "ms", "ingest.addBatch_ms": "ms",
    "ingest.walCommit_ms": "ms", "ingest.commitOffsets_ms": "ms",
    "ingest.triggers": "count", "ingest.trigger_tail_ms": "ms",
    "ingest.rows_in": "count", "ingest.rows_out": "count", "ingest.kept_ratio": "ratio",
    "ingest.dup_dropped": "count", "ingest.late_dropped": "count",
    "ingest.corrupt_rows": "count", "ingest.state_rows_max": "count",
    "ingest.state_mem_bytes_max": "bytes", "ingest.state_commit_ms": "ms",
    "ingest.bronze_files": "count", "ingest.bronze_partitions": "count", "ingest.jobs": "count",
    "scoring.drain_ms": "ms", "scoring.addBatch_ms": "ms", "scoring.state_rows_max": "count",
    "scoring.partitions_rewritten": "count", "scoring.bytes_written": "bytes",
    "scoring.jobs": "count",
    "backfill.call_ms": "ms", "backfill.hours": "count", "backfill.ms_per_hour": "ms",
    "backfill.input_lines": "count", "backfill.input_bytes": "bytes",
    "backfill.output_bytes": "bytes",
    "backfill.shuffle_write_bytes": "bytes", "backfill.replay_ms": "ms",
    "backfill.force_ms": "ms", "backfill.jobs": "count",
    "retention.expire_ms": "ms", "retention.partitions_dropped": "count",
    "serve.top_daily_ms": "ms", "serve.top_hourly_ms": "ms", "serve.recent_ms": "ms",
    "serve.info_ms": "ms", "serve.reads": "count", "serve.read_tail_ms": "ms",
    "serve.files_seen": "count", "serve.partitions_seen": "count",
    "serve.jobs_per_call": "count",
    "suite.construct_s": "s", "suite.construct_jobs": "count", "suite.plan_s": "s",
    "suite.exec_s": "s", "suite.jobs": "count", "suite.stages": "count",
    "suite.tasks": "count", "suite.shuffle_read_bytes": "bytes",
    "suite.shuffle_write_bytes": "bytes", "suite.spill_bytes": "bytes",
    "suite.CoreQueries_s": "s", "suite.DedupOps_s": "s", "suite.SketchOps_s": "s",
    "suite.SearchOps_s": "s",
    "suite.duckdb_geomean_ratio": "ratio", "suite.duckdb_sum_ratio": "ratio",
    "DedupStream.batch_ms": "ms", "SearchStream.batch_ms": "ms",
    "SketchStream.batch_ms": "ms", "DedupStream.serve_ms": "ms",
    "SearchStream.serve_ms": "ms", "SketchStream.serve_ms": "ms",
    "StateMaintenance.compact_ms": "ms", "docs.state_partitions": "count",
    "docs.state_bytes": "bytes", "docs.docs_per_s": "1/s",
    "baseline_local1.ingest_events_per_s": "1/s", "baseline_local1.ingest_trigger_p50_ms": "ms",
    "jvm.gc_ms": "ms", "tracing_overhead_frac": "ratio", "trace.wall_ms": "ms",
    "trace.self_ms": "ms", "trace.gap_ms": "ms", "trace.spans": "count",
}
DEADLINE_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness once per source state; return the classpath."""
    digest = sources_digest()
    if os.path.exists(BUILD):
        with open(BUILD) as f:
            b = json.load(f)
        if b.get("digest") == digest:
            return b["classpath"]
    log("building the program and the benchmark harness (sbt)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(BUILD), exist_ok=True)
    with open(BUILD, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def make_inputs(workload, seed, inputs):
    s = SIZES[workload]
    if workload == "live_ingest":
        gen.live_inputs(seed, os.path.join(inputs, "live"), **s)
    else:
        gen.archive_inputs(seed, os.path.join(inputs, "archive"), **s)
        gen.corpus_inputs(seed, os.path.join(inputs, "corpus"), **CORPUS)


def jvm(classpath, args, log_path, deadline):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(args["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: run from the root of a checkout "
                         "(the program's src/main/scala is missing)")
    classpath = build()
    deadline = time.time() + DEADLINE_S
    work = os.path.join(HERE, "target", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        make_inputs(a.workload, a.seed, inputs)
        out = os.path.join(work, "result.json")
        code = jvm(classpath, {"workload": a.workload, "seed": a.seed,
                               "trace": a.trace, "inputs": inputs,
                               "work": os.path.join(work, "state"), "out": out},
                   os.path.join(work, "jvm.log"), deadline)
        if code is None or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: the JVM {'timed out' if code is None else 'died'}")
        with open(out) as f:
            res = json.load(f)
        with open(os.path.join(work, "jvm.log")) as f:
            text = f.read()
        if res["error"]:
            sys.stderr.write(text[-6000:])
        else:
            sys.stderr.write("".join(ln + "\n" for ln in text.splitlines()
                                     if ln.startswith("[perfbench")))
        duck = {}
        results = checks.run(a.workload, res, inputs, duck)
        attempted = res["attempted"] + len(results)
        failed = res["failed"] + sum(1 for r in results if not r[1])
        for name, ok, detail in [(c["name"], c["ok"], c["detail"]) for c in res["checks"]] + results:
            log(f"check {'PASS' if ok else 'FAIL'} {name} {detail}")
        if res["error"]:
            failed += 1
            attempted += 1
        if a.trace:
            if duck:
                # the comparator: Spark's time per slice query over DuckDB's
                spark_s = res["outputs"]["suite_s"]
                ratios = [spark_s[q] / duck[q] for q in duck]
                res["layers"]["suite.duckdb_geomean_ratio"] = math.exp(
                    sum(math.log(r) for r in ratios) / len(ratios))
                res["layers"]["suite.duckdb_sum_ratio"] = (
                    sum(spark_s[q] for q in duck) / sum(duck.values()))
            metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u}
                       for k, u in PER_LAYER.items()}
            with open(out + ".spans.json") as f:
                spans = f.read()
            os.makedirs(os.path.join(HERE, "target", "traces"), exist_ok=True)
            with open(os.path.join(HERE, "target", "traces",
                                   f"{a.workload}-{a.seed}.spans.json"), "w") as f:
                f.write(spans)
        else:
            metrics = {k: {"value": res["metrics"][k], "unit": u}
                       for k, u in E2E_UNITS.items() if k in res["metrics"]}
        correct = failed == 0 and not res["error"]
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
