#!/usr/bin/env python3
"""Suite wall time from the scalatest JUnit reports, plus the slowest tests.

Usage: python3 tools/test_times.py [reportDir] [-n N]

Reads every <reportDir>/*.xml (default target/test-reports), prints the
suite total (sum of the per-suite `time` attributes), the test count and
failures, then the N slowest suites and the N slowest tests (default 15).
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET


def load(report_dir):
    suites, tests = [], []
    for path in sorted(glob.glob(os.path.join(report_dir, "*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            bad = int(s.get("failures", 0)) + int(s.get("errors", 0))
            suites.append((float(s.get("time", 0)), s.get("name"), int(s.get("tests", 0)), bad))
            for c in s.iter("testcase"):
                tests.append((float(c.get("time", 0)), c.get("classname"), c.get("name")))
    return suites, tests


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("report_dir", nargs="?", default="target/test-reports")
    ap.add_argument("-n", type=int, default=15, help="how many slowest suites/tests to list")
    a = ap.parse_args()
    suites, tests = load(a.report_dir)
    if not suites:
        sys.exit(f"no JUnit XML reports under {a.report_dir}")
    total = sum(s[0] for s in suites)
    print(f"suite total: {total:.1f} s over {sum(s[2] for s in suites)} tests "
          f"in {len(suites)} suites, {sum(s[3] for s in suites)} failed")
    print(f"\nslowest {a.n} suites:")
    for t, name, n, _ in sorted(suites, reverse=True)[:a.n]:
        print(f"  {t:9.1f} s  {name} ({n} tests)")
    print(f"\nslowest {a.n} tests:")
    for t, cls, name in sorted(tests, reverse=True)[:a.n]:
        print(f"  {t:9.1f} s  {cls.rsplit('.', 1)[-1]}::{name}")


if __name__ == "__main__":
    main()
