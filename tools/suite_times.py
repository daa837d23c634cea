"""Per-suite time summary of the last sbt test run.

    python3 tools/suite_times.py [REPORT_DIR] [--log SBT_LOG]

Reads the JUnit reports sbt writes (REPORT_DIR, default
target/test-reports, files TEST-*.xml) and prints one line per suite,
slowest first: time, tests, failures (errors included) and skipped
(ignored or pending), then the total against the 2670 s Tier-1
budget. sbt's reports do not mark canceled tests, so pass the captured
sbt output with --log to count each suite's `!!! CANCELED !!!` lines
too. With --log only the suites that log ran are reported: a report
file left from an earlier run of other suites is skipped, and the
number skipped is printed. The total is the sum of suite times; the
sbt run's wall time adds JVM start-up and compilation on top.
Exits 1 when a suite failed or the total exceeds the budget.
"""
import argparse
import glob
import os
import re
import sys
import xml.etree.ElementTree as ET

BUDGET_S = 2670.0


def suites(report_dir):
    """(name, seconds, tests, failures, skipped) per report file."""
    out = []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        s = ET.parse(path).getroot()
        out.append((s.get("name"), float(s.get("time", 0)),
                    int(s.get("tests", 0)),
                    int(s.get("failures", 0)) + int(s.get("errors", 0)),
                    int(s.get("skipped", 0))))
    return out


def from_log(log_path):
    """The suites a run ran and their canceled tests, from ScalaTest's
    console output: a line `SuiteName:` opens a suite, `- name !!!
    CANCELED !!!` is one test. Returns {simple suite name: canceled}."""
    counts, suite = {}, None
    head = re.compile(r"^(?:\[info\] )?(\w+):$")
    with open(log_path, errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            m = head.match(line)
            if m:
                suite = m.group(1)
                counts.setdefault(suite, 0)
            elif "!!! CANCELED !!!" in line and suite:
                counts[suite] += 1
    return counts


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("report_dir", nargs="?", default="target/test-reports")
    p.add_argument("--log", help="captured sbt output: canceled counts, "
                   "and only the suites it ran")
    a = p.parse_args(argv)
    rows = suites(a.report_dir)
    cancel = from_log(a.log) if a.log else {}
    if a.log:
        ran = [r for r in rows if r[0].rsplit(".", 1)[-1] in cancel]
        print(f"skipped {len(rows) - len(ran)} report file(s) of suites "
              f"{a.log} did not run")
        rows = ran
    if not rows:
        sys.exit(f"no TEST-*.xml under {a.report_dir}"
                 + (f" for a suite {a.log} ran" if a.log else ""))
    print(f"{'suite':<36} {'time_s':>9} {'tests':>6} {'failed':>6} "
          f"{'skipped':>7} {'canceled':>8}")
    for name, t, n, bad, skip in sorted(rows, key=lambda r: -r[1]):
        c = cancel.get(name.rsplit(".", 1)[-1], 0) if a.log else "-"
        print(f"{name:<36} {t:>9.1f} {n:>6} {bad:>6} {skip:>7} {c:>8}")
    total = sum(r[1] for r in rows)
    failed = sum(r[3] for r in rows)
    print(f"{'total':<36} {total:>9.1f} {sum(r[2] for r in rows):>6} "
          f"{failed:>6} {sum(r[4] for r in rows):>7} "
          f"{sum(cancel.values()) if a.log else '-':>8}")
    print(f"suite time {total:.0f} s of the {BUDGET_S:.0f} s budget "
          f"({100 * total / BUDGET_S:.0f}%)")
    return 1 if failed or total > BUDGET_S else 0


if __name__ == "__main__":
    sys.exit(main())
