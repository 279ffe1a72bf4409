#!/usr/bin/env python3
"""Per-suite timing table from sbt's JUnit XML reports.

Reads every target/test-reports/TEST-*.xml (or the directory given as the
first argument) and prints one row per suite: tests, failures plus errors,
and seconds, slowest first, then a total row.

    python3 scripts/suite_times.py [reports-dir]
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suite_rows(reports_dir):
    rows = []
    for path in glob.glob(os.path.join(reports_dir, "TEST-*.xml")):
        # the <testsuite> attributes are all we need: stop at its start tag
        _, root = next(ET.iterparse(path, events=("start",)))
        rows.append((root.get("name"), int(root.get("tests", 0)),
                     int(root.get("failures", 0)) + int(root.get("errors", 0)),
                     float(root.get("time", 0.0))))
    return sorted(rows, key=lambda r: -r[3])


def main():
    reports_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    rows = suite_rows(reports_dir)
    if not rows:
        sys.exit(f"no TEST-*.xml reports under {reports_dir}")
    width = max(len("total"), *(len(r[0]) for r in rows))
    print(f"{'suite':<{width}}  {'tests':>5}  {'failed':>6}  {'seconds':>8}")
    for name, tests, failed, secs in rows:
        print(f"{name:<{width}}  {tests:>5}  {failed:>6}  {secs:>8.1f}")
    print(f"{'total':<{width}}  {sum(r[1] for r in rows):>5}  "
          f"{sum(r[2] for r in rows):>6}  {sum(r[3] for r in rows):>8.1f}")


if __name__ == "__main__":
    main()
