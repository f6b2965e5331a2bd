#!/usr/bin/env python3
"""Per-suite wall time of the last `sbt test` run, against the Tier-1 budget.

Reads the JUnit XML reports sbt writes (one TEST-<suite>.xml per suite),
prints each suite's wall seconds and test count, slowest first, then the
summed wall against the budget the Tier-1 gate runs the suite under.
sbt never deletes the report of a suite that no longer exists, and a run
cut by its timeout writes none for the suites it did not reach: clear
the directory before a full run and check the suite count printed last.

Usage:  python3 scripts/suite_walls.py [reports_dir] [--budget SECONDS]
        (defaults: target/test-reports, 2670)
"""
import argparse
import glob
import os
import signal
import sys
import xml.etree.ElementTree as ET

signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet when piped into head

ap = argparse.ArgumentParser()
ap.add_argument("reports", nargs="?", default="target/test-reports")
ap.add_argument("--budget", type=float, default=2670.0)
args = ap.parse_args()

rows = []
for path in glob.glob(os.path.join(args.reports, "*.xml")):
    suite = ET.parse(path).getroot()
    rows.append((float(suite.get("time", 0)), int(suite.get("tests", 0)),
                 int(suite.get("failures", 0)) + int(suite.get("errors", 0)),
                 suite.get("name")))
if not rows:
    sys.exit(f"no JUnit XML reports under {args.reports}")
rows.sort(key=lambda r: -r[0])

total = sum(r[0] for r in rows)
print(f"{'wall_s':>9} {'share':>6} {'tests':>5} {'fail':>4}  suite")
for wall, tests, failed, name in rows:
    print(f"{wall:9.1f} {wall / total:6.1%} {tests:5d} {failed:4d}  {name}")
print(f"{total:9.1f} {'':>6} {sum(r[1] for r in rows):5d} "
      f"{sum(r[2] for r in rows):4d}  TOTAL over {len(rows)} suites")
print(f"budget {args.budget:.0f} s: summed wall is {total / args.budget:.1%} "
      f"of it, headroom {args.budget - total:.0f} s")
