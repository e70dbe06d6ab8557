#!/usr/bin/env python3
"""Per-suite timing and failure summary of an sbt test run.

    python3 tools/test_timing.py [REPORT_DIR]

Reads the JUnit XML reports sbt writes (`target/test-reports/TEST-*.xml`
by default) and prints one line per suite -- time, tests, failures,
errors -- sorted by time, slowest last. Suites with failures or errors
are named again on one line, and the last line is the total against the
budget (2,670 s, the timeout the full `testOnly *` run gets), so the
slowest and the failing suites survive a short log tail.

Exit codes: 0 every suite passed, 1 a suite failed, errored or could not
be read, 2 no report found.
"""

import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET

BUDGET_S = 2670.0


def read_suite(path):
    """(name, time_s, tests, failures, errors) of one report; None if unreadable."""
    try:
        root = ET.parse(path).getroot()
        return (root.get("name") or os.path.basename(path), float(root.get("time", 0)),
                int(root.get("tests", 0)), int(root.get("failures", 0)),
                int(root.get("errors", 0)))
    except (ET.ParseError, OSError, ValueError):
        return None


def summarize(report_dir):
    """The summary lines and the exit code for the reports in `report_dir`."""
    paths = sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml")))
    if not paths:
        return ["no TEST-*.xml reports under %s" % report_dir], 2
    suites, unreadable = [], []
    for p in paths:
        s = read_suite(p)
        if s is None:
            unreadable.append(os.path.basename(p))
        else:
            suites.append(s)
    suites.sort(key=lambda s: (s[1], s[0]))
    lines = ["%9.1f s  %4d tests  %3d failures  %3d errors  %s" % (t, n, f, e, name)
             for name, t, n, f, e in suites]
    lines += ["unreadable report: %s" % u for u in unreadable]
    failing = [s[0] for s in suites if s[3] or s[4]]
    if failing:
        lines.append("failing suites: %s" % ", ".join(failing))
    total = sum(s[1] for s in suites)
    lines.append("total %.1f s of %.0f s budget (%.0f%%): %d suites, %d tests, "
                 "%d failures, %d errors%s" % (
                     total, BUDGET_S, 100.0 * total / BUDGET_S, len(suites),
                     sum(s[2] for s in suites), sum(s[3] for s in suites),
                     sum(s[4] for s in suites),
                     ", %d unreadable" % len(unreadable) if unreadable else ""))
    return lines, 1 if failing or unreadable else 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("report_dir", nargs="?", default=os.path.join("target", "test-reports"))
    args = ap.parse_args(argv)
    lines, code = summarize(args.report_dir)
    print("\n".join(lines))
    return code


if __name__ == "__main__":
    sys.exit(main())
