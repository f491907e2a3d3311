#!/usr/bin/env python3
"""Paired parent/change solo walls for single queries, one JVM per run.

Each target runs alternately on the two trees (pair i runs the parent
first when i is even, the change first when it is odd) and records one
wall per run:

  * a registered query: `graft.DevProf <q> <dir> <reps>`; the wall is
    the last rep's (the earlier reps are the first runs at the target
    scale), with artifacts kept in a per-side tmpdir across runs;
  * `x17_cold`: DevProf x17_dedup_clusters with reps=1 and a fresh
    tmpdir per run, so the wall includes the cluster-index build;
  * `bpe`: `graft.BpeSegmentRun <dir> 8`'s `segment_sec`.

The classpath files come from each tree's
`sbt "export Test/fullClasspath"` (the last output line); the JVM gets
build.sbt's `--add-opens` flags, so no sbt runs between measurements.

  python3 dev/devprof_ab.py --parent-cp P.txt --change-cp C.txt \\
      --dirs <sf0.1 dir> <5x dir> --pairs 10 --reps 2 \\
      --tmp /tmp/devprof_ab --out dev/sweeps/ab.json \\
      x56_snapshot_dedup x26_dedup_blocks x17_cold bpe

The output holds every wall, and per (target, dir) the medians,
quartiles, the change-minus-parent difference and pairs the change won.
It is rewritten after every pair, so a stopped sweep keeps its pairs.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ab import quartiles  # noqa: E402  (one IQR definition for both A/B tools)

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def java_cmd(cp_file, tmpdir, main, args):
    with open(cp_file) as f:
        cp = f.read().strip()
    flags = [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + flags +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Xmx4g", f"-Djava.io.tmpdir={tmpdir}", "-cp", cp, main] + args)


def run_once(cp_file, tmp_root, side, target, data_dir, reps):
    if target == "x17_cold":
        tmpdir = os.path.join(tmp_root, f"{side}_cold")
        shutil.rmtree(tmpdir, ignore_errors=True)
        main, args = "graft.DevProf", ["x17_dedup_clusters", data_dir, "1"]
    elif target == "bpe":
        tmpdir = os.path.join(tmp_root, side)
        main, args = "graft.BpeSegmentRun", [data_dir, "8"]
    else:
        tmpdir = os.path.join(tmp_root, side)
        main, args = "graft.DevProf", [target, data_dir, str(reps)]
    os.makedirs(tmpdir, exist_ok=True)
    out = subprocess.run(java_cmd(cp_file, tmpdir, main, args),
                         capture_output=True, text=True).stdout
    if target == "bpe":
        m = re.search(r"^BPESEG (\{.*\})$", out, re.M)
        if not m:
            raise RuntimeError(f"{side} {target} {data_dir}: no BPESEG line")
        return json.loads(m.group(1))["segment_sec"]
    walls = [float(x) for x in re.findall(r"^rep\d+ ([0-9.]+) s", out, re.M)]
    if not walls:
        raise RuntimeError(f"{side} {target} {data_dir}: no rep lines")
    return walls[-1]


def summarize(pairs):
    p = [x["parent"] for x in pairs]
    c = [x["change"] for x in pairs]
    sp, sc = quartiles(p), quartiles(c)
    for q in (sp, sc):
        q["iqr"] = q["q3"] - q["q1"]
    return {"pairs": len(pairs), "parent": sp, "change": sc,
            "change_minus_parent": sc["median"] - sp["median"],
            "change_faster_pairs": sum(x["change"] < x["parent"] for x in pairs),
            # the deletion rule: the change's median is no worse than the
            # parent's by more than the parent's IQR
            "within_parent_iqr": sc["median"] - sp["median"] <= sp["iqr"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent-cp", required=True)
    ap.add_argument("--change-cp", required=True)
    ap.add_argument("--dirs", nargs="+", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("targets", nargs="+")
    a = ap.parse_args()
    result = {"method": __doc__.strip().splitlines()[0], "reps": a.reps,
              "sites": {}}
    for d in a.dirs:
        for t in a.targets:
            key = f"{t}@{os.path.basename(d.rstrip('/'))}"
            pairs = []
            for i in range(a.pairs):
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                pair = {}
                for side in order:
                    cp = a.parent_cp if side == "parent" else a.change_cp
                    pair[side] = run_once(cp, a.tmp, side, t, d, a.reps)
                pair["first"] = order[0]
                pairs.append(pair)
                result["sites"][key] = {"runs": pairs, **summarize(pairs)} \
                    if len(pairs) > 1 else {"runs": pairs}
                result["finished"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
                with open(a.out, "w") as f:
                    json.dump(result, f, indent=1)
            s = result["sites"][key]
            print(f"{key}: parent {s['parent']['median']:.3f} change "
                  f"{s['change']['median']:.3f} (parent IQR {s['parent']['iqr']:.3f}, "
                  f"change faster {s['change_faster_pairs']}/{len(pairs)})", flush=True)


if __name__ == "__main__":
    main()
