#!/usr/bin/env python3
"""Per-spec wall time of the last `sbt test` run, slowest first.

Usage: python3 scripts/spec_times.py [reportDir]

Reads the JUnit reports sbt writes (<reportDir>/TEST-*.xml, default
target/test-reports) and prints one line per spec: its time in seconds, its
test count and its name, then the sum. The suites run in one forked JVM and
may overlap, so the sum is the total of the per-spec times, not the wall
time of the run.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        "target", "test-reports")
    rows = []
    for path in glob.glob(os.path.join(report_dir, "TEST-*.xml")):
        suite = ET.parse(path).getroot()
        rows.append((float(suite.get("time", 0)), int(suite.get("tests", 0)),
                     suite.get("name", os.path.basename(path))))
    if not rows:
        print("no TEST-*.xml reports under %s" % report_dir, file=sys.stderr)
        return 1
    rows.sort(key=lambda r: (-r[0], r[2]))
    print("%9s %6s  %s" % ("seconds", "tests", "spec"))
    for secs, tests, name in rows:
        print("%9.1f %6d  %s" % (secs, tests, name))
    print("%9.1f %6d  sum over %d specs (suites share one forked JVM and "
          "may overlap: this is not the run's wall time)"
          % (sum(r[0] for r in rows), sum(r[1] for r in rows), len(rows)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
