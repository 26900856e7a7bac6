#!/usr/bin/env python3
"""Where the test suite's wall time goes.

Reads the JUnit reports sbt leaves under target/test-reports/ and prints
the summed suite time, the five slowest suites with their share of it,
and the margin left to the tier-1 timeout (2670 s, ROADMAP.md).

Usage: python3 tools/suite_times.py [report_dir]   (default target/test-reports)
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

TIMEOUT_S = 2670.0


def main() -> int:
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    files = sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml")))
    if not files:
        print(f"no TEST-*.xml under {report_dir}", file=sys.stderr)
        return 1
    suites = []
    for f in files:
        root = ET.parse(f).getroot()
        suites.append((float(root.get("time", "0")), root.get("name"),
                       int(root.get("tests", "0")),
                       int(root.get("failures", "0")) + int(root.get("errors", "0"))))
    total = sum(s[0] for s in suites)
    n_tests = sum(s[2] for s in suites)
    n_bad = sum(s[3] for s in suites)
    print(f"suites: {len(suites)}  tests: {n_tests}  failed: {n_bad}")
    print(f"summed suite time: {total:.1f} s")
    print("five slowest:")
    for t, name, tests, _ in sorted(suites, reverse=True)[:5]:
        print(f"  {t:8.1f} s  {100 * t / total:5.1f}%  {name} ({tests} tests)")
    print(f"margin to the {TIMEOUT_S:.0f} s tier-1 timeout: "
          f"{TIMEOUT_S - total:.1f} s ({100 * (TIMEOUT_S - total) / TIMEOUT_S:.1f}%)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
