#!/usr/bin/env python3
"""Per-suite wall time from sbt's JUnit test reports, parent against change.

sbt writes one `TEST-<suite>.xml` per suite under `target/test-reports/`.
Copy the parent tree's reports aside after its Tier-1 run, run the
change's Tier-1, then:

  python3 dev/suite_wall.py <parent-reports-dir> target/test-reports

With one dir it prints that run alone, in the change column. Prints a
Markdown table: per suite the tests, failures + errors and wall seconds
of each side and the difference, slowest change suite first, then the
totals. A suite present on one
side only shows `-` on the other.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def read(d):
    suites = {}
    for f in glob.glob(os.path.join(d, "TEST-*.xml")):
        r = ET.parse(f).getroot()
        suites[r.get("name")] = (
            float(r.get("time", 0)), int(r.get("tests", 0)),
            int(r.get("failures", 0)) + int(r.get("errors", 0)))
    if not suites:
        sys.exit(f"no TEST-*.xml under {d}")
    return suites


def cell(v, fmt):
    return "-" if v is None else fmt.format(v)


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    parent = read(argv[1]) if len(argv) == 3 else {}
    change = read(argv[-1])
    names = sorted(set(parent) | set(change),
                   key=lambda n: -change.get(n, parent.get(n))[0])
    print("| suite | tests | fail | parent s | change s | Δ s |")
    print("|---|---|---|---|---|---|")
    for n in names:
        p, c = parent.get(n), change.get(n)
        tests, fails = (c or p)[1], (c or p)[2]
        delta = c[0] - p[0] if p and c else None
        print(f"| {n.removeprefix('graft.')} | {tests} | {fails} | "
              f"{cell(p and p[0], '{:.1f}')} | {cell(c and c[0], '{:.1f}')} | "
              f"{cell(delta, '{:+.1f}')} |")

    def total(side):
        return (sum(v[0] for v in side.values()), sum(v[1] for v in side.values()),
                sum(v[2] for v in side.values())) if side else None
    tp, tc = total(parent), total(change)
    print(f"| **total** | {tc[1]} | {tc[2]} | {cell(tp and tp[0], '{:.1f}')} | "
          f"{tc[0]:.1f} | {cell(tp and tc[0] - tp[0], '{:+.1f}')} |")


if __name__ == "__main__":
    main(sys.argv)
