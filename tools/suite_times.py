#!/usr/bin/env python3
"""Per-suite and per-test wall times of a ScalaTest run, as markdown.

Reads the JUnit XML reports sbt writes after `sbt test` (by default
`target/test-reports/TEST-*.xml`) and prints two tables: every suite with
its test count and seconds, slowest first, then every test with its
seconds, grouped by suite and slowest first within each suite.

    python3 tools/suite_times.py [reports_dir] > TIMINGS.md
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def load(reports_dir):
    suites = []
    for path in sorted(glob.glob(os.path.join(reports_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        tests = []
        for case in root.iter("testcase"):
            failed = (case.find("failure") is not None
                      or case.find("error") is not None)
            tests.append((case.get("name"), float(case.get("time", "0")),
                          failed))
        suites.append((root.get("name"), float(root.get("time", "0")), tests))
    return suites


def main():
    reports_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    suites = load(reports_dir)
    if not suites:
        sys.exit(f"no TEST-*.xml reports under {reports_dir}")
    suites.sort(key=lambda s: -s[1])
    total = sum(s[1] for s in suites)
    n_tests = sum(len(s[2]) for s in suites)
    n_failed = sum(failed for _, _, tests in suites for _, _, failed in tests)
    print("## Suites\n")
    # sbt's reports do not mark a cancelled test: it reads as not failed
    print(f"{len(suites)} suites, {n_tests} tests, {n_failed} failed, "
          f"{total:.1f} s summed over suites.\n")
    print("| suite | tests | seconds | share |")
    print("|---|---:|---:|---:|")
    for name, secs, tests in suites:
        print(f"| {name} | {len(tests)} | {secs:.1f} | {100 * secs / total:.1f}% |")
    print("\n## Tests\n")
    print("| suite | test | seconds |")
    print("|---|---|---:|")
    for name, _, tests in suites:
        for test, secs, failed in sorted(tests, key=lambda t: -t[1]):
            cell = test.replace("|", "\\|") + (" (failed)" if failed else "")
            print(f"| {name} | {cell} | {secs:.1f} |")


if __name__ == "__main__":
    main()
