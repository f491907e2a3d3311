#!/usr/bin/env python3
"""Paired A/B of the repository benchmark: a parent commit against the
working tree, run back to back on one host.

    python3 dev/ab.py --parent HEAD --out dev/sweeps/NAME.json \\
        --runs live_ingest:1-6 live_ingest:201:traced archive_backfill:1-3 \\
               live_ingest:7-10 \\
        --note "seeds 7-10 were not used while the change was written"

The parent is unpacked with `git archive` into its own directory (under
--workdir) and builds there; the change side is this checkout. Every
run is `python3 perfbench/run.py --workload W --seed S --seconds 25
--trace T` from the root of its side; this script refuses to start when
perfbench/ or BENCHMARK.json differ between the sides. Each --runs item
is WORKLOAD:SEEDS[:traced], SEEDS a comma list of seeds or ranges A-B;
pairs run in the order given and alternate which side runs first
(the first pair starts with the parent).

A traced run also records, from a Spark event log switched on through
JAVA_TOOL_OPTIONS, every micro-batch's `durationMs` and
`stateOperators`, and from the run's span file the counters of each
stream drain (jobs, stages, tasks, shuffle bytes). The event log costs
both sides the same; the untraced runs have none.

The output holds every run and, per workload and end-to-end metric, each
side's quartiles over the untraced pairs, the pairs the change won, the
median gain against the parent's interquartile range, the verdict of
the gain rule (wins in at least 9/10 of the pairs and a median gain
larger than the parent's IQR) and whether the change's median stays
inside the bound BENCHMARK.json fixes. The file is rewritten after every
pair, so an interrupted sweep keeps what it measured.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def plan(items):
    """[(workload, seed, trace)] in run order."""
    pairs = []
    for item in items:
        fields = item.split(":")
        if len(fields) not in (2, 3) or fields[2:] not in ([], ["traced"]):
            raise SystemExit(f"ab: bad --runs item {item!r} (WORKLOAD:SEEDS[:traced])")
        pairs += [(fields[0], s, int(len(fields) == 3)) for s in seeds(fields[1])]
    return pairs


def unpack_parent(rev, dest):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", rev], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"ab: git archive {rev} failed")


def progress_records(event_dir):
    """Every micro-batch progress in the event logs under `event_dir`,
    tagged with the application (one per Spark session) it ran in."""
    out = []
    # one log per application, a file or (rolling logs) a directory of
    # events_<n>_<app id> parts; application ids carry their start time
    for app, path in enumerate(sorted(glob.glob(os.path.join(event_dir, "*")))):
        parts = sorted(glob.glob(os.path.join(path, "events_*")),
                       key=lambda q: int(os.path.basename(q).split("_")[1])) or [path]
        for line in (ln for part in parts for ln in open(part)):
            if PROGRESS_EVENT not in line:
                continue
            p = json.loads(line)["progress"]
            out.append({
                "app": app,
                "query": "ingest" if p["sink"]["description"].startswith("FileSink")
                         else "scoring",
                "batchId": p["batchId"],
                "numInputRows": sum(s["numInputRows"] for s in p["sources"]),
                "batchDuration": p["batchDuration"],
                "durationMs": p["durationMs"],
                "stateOperators": p["stateOperators"],
            })
    return out


def drain_spans(spans_path):
    """Duration and counters of each stream drain span of a traced run."""
    with open(spans_path) as f:
        spans = json.load(f)
    return [{"name": s["name"], "ms": (s["end_us"] - s["start_us"]) / 1000.0,
             "counts": s["counts"]}
            for s in spans if s["name"].endswith(".drain")]


def run_side(side, root, workload, seed, trace, workdir):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "25", "--trace", str(trace)]
    env = dict(os.environ)
    event_dir = None
    if trace:
        event_dir = tempfile.mkdtemp(prefix=f"events-{side}-", dir=workdir)
        env["JAVA_TOOL_OPTIONS"] = " ".join([
            env.get("JAVA_TOOL_OPTIONS", ""), "-Dspark.eventLog.enabled=true",
            f"-Dspark.eventLog.dir=file://{event_dir}",
            "-Dspark.eventLog.compress=false"]).strip()
    log(f"{side} {workload} seed={seed} trace={trace}")
    p = subprocess.run(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    with open(os.path.join(workdir, f"{side}-{workload}-{seed}-{trace}.log"), "w") as f:
        f.write(p.stderr)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "error": p.stderr[-2000:]}
    run = {"side": side, "workload": workload, "seed": seed, "trace": trace,
           "exit": p.returncode, "result": result}
    if trace and event_dir:
        run["triggers"] = progress_records(event_dir)
        spans = os.path.join(root, "perfbench", "target", "traces",
                             f"{workload}-{seed}.spans.json")
        if os.path.exists(spans):
            run["drains"] = drain_spans(spans)
        shutil.rmtree(event_dir, ignore_errors=True)
    return run


def quartiles(xs):
    if len(xs) == 1:
        return {"q1": xs[0], "median": xs[0], "q3": xs[0]}
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return {"q1": q1, "median": med, "q3": q3}


def summarize(runs, e2e):
    """Per workload and end-to-end metric, over the untraced pairs whose
    two runs were both correct."""
    by = {}
    for r in runs:
        if not r["trace"]:
            by.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r
    vals = {}
    for (workload, _), pair in sorted(by.items()):
        if not all(s in pair and pair[s]["result"].get("correct") for s in ("parent", "change")):
            continue
        for m in e2e:
            for s in ("parent", "change"):
                vals.setdefault((workload, m["name"], s), []).append(
                    pair[s]["result"]["metrics"][m["name"]]["value"])
    out = {}
    for workload in sorted({w for w, _, _ in vals}):
        for m in e2e:
            p, c = vals[(workload, m["name"], "parent")], vals[(workload, m["name"], "change")]
            sign = 1 if m["better"] == "lower" else -1
            par, chg = quartiles(p), quartiles(c)
            wins = sum(1 for a, b in zip(p, c) if sign * (a - b) > 0)
            gain = sign * (par["median"] - chg["median"])
            iqr = par["q3"] - par["q1"]
            out.setdefault(workload, {})[m["name"]] = {
                "pairs": len(p), "change_wins": wins, "parent": par, "change": chg,
                "median_ratio": chg["median"] / par["median"] if par["median"] else None,
                "parent_iqr": iqr, "median_gain": gain,
                "gain_verdict": wins >= 0.9 * len(p) and gain > iqr,
                "within_bound": -gain <= m["bound"] * abs(par["median"]),
            }
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent side")
    ap.add_argument("--out", required=True, help="the sweep file to write")
    ap.add_argument("--runs", nargs="+", required=True,
                    help="WORKLOAD:SEEDS[:traced] items, run in order")
    ap.add_argument("--workdir", default=os.path.join(tempfile.gettempdir(), "graft-ab"),
                    help="where the parent checkout, run logs and event logs go")
    ap.add_argument("--host", default="", help="hardware the runs were made on")
    ap.add_argument("--note", default="", help="protocol note kept in the output")
    a = ap.parse_args()

    pairs = plan(a.runs)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    rev = subprocess.run(["git", "rev-parse", "--short", a.parent], cwd=ROOT, check=True,
                         stdout=subprocess.PIPE, text=True).stdout.strip()
    if subprocess.run(["git", "diff", "--quiet", rev, "--", "perfbench", "BENCHMARK.json"],
                      cwd=ROOT).returncode != 0:
        raise SystemExit(f"ab: perfbench/ or BENCHMARK.json differs from {rev}, so the "
                         "two sides would not run the same benchmark")
    os.makedirs(a.workdir, exist_ok=True)
    parent_root = os.path.join(a.workdir, "parent")
    unpack_parent(rev, parent_root)
    roots = {"parent": parent_root, "change": ROOT}

    doc = {
        "host": a.host,
        "parent": f"{rev} (git archive of the parent commit, built by perfbench/run.py "
                  "in its own directory)",
        "change": "the working tree of this checkout",
        "command": "python3 perfbench/run.py --workload W --seed S --seconds 25 --trace T",
        "protocol": "pairs run back to back in this order, alternating which side runs "
                    "first (the first pair starts with the parent): " + " ".join(a.runs)
                    + (". " + a.note if a.note else ""),
        "quartiles": "statistics.quantiles(values, n=4) over the untraced pairs; a pair is "
                     "won when the change is better; gain_verdict: wins >= 9/10 of the "
                     "pairs and median gain > parent IQR; within_bound: the change's median "
                     "is worse than the parent's by no more than the BENCHMARK.json bound",
        "runs": [],
    }
    for i, (workload, seed, trace) in enumerate(pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            doc["runs"].append(run_side(side, roots[side], workload, seed, trace, a.workdir))
        doc["summary"] = summarize(doc["runs"], e2e)
        with open(a.out, "w") as f:
            json.dump(doc, f, indent=1)
    for workload, metrics in doc.get("summary", {}).items():
        for name, s in metrics.items():
            log(f"{workload} {name}: parent {s['parent']['median']:.4g} -> change "
                f"{s['change']['median']:.4g}, wins {s['change_wins']}/{s['pairs']}, "
                f"gain {s['median_gain']:.4g} vs parent IQR {s['parent_iqr']:.4g}, "
                f"verdict {s['gain_verdict']}, within bound {s['within_bound']}")


if __name__ == "__main__":
    main()
