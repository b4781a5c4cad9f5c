#!/usr/bin/env python3
"""Summarize an sbt test log (the tier-1 run, or any `testOnly` run).

    python3 tools/tier1_summary.py tier1.log

Prints the passed, failed and canceled test counts (the last ScalaTest
summary line in the log), the suites with a failed test or an aborted
run, the wall time (every sbt `Total time:` line, summed, and the last
one), and the number of Janino `CompileException`s: each is a generated
class Spark failed to compile and then ran as interpreted code. Standard
library only.
"""
import re
import sys

SUMMARY = re.compile(r"Tests: succeeded (\d+), failed (\d+), canceled (\d+), "
                     r"ignored (\d+), pending (\d+)")
SUITE = re.compile(r"^\[info\] (\S+):$")
TOTAL = re.compile(r"Total time: (\d+) s")
FAILED_BLOCK_ENTRY = re.compile(r"^\[error\]\s+(graft\.\S+)$")


def summarize(lines):
    counts = None
    suites = set()
    suite = None
    totals = []
    compile_exceptions = 0
    for raw in lines:
        line = raw.rstrip("\n")
        m = SUMMARY.search(line)
        if m:
            counts = tuple(int(g) for g in m.groups())
        m = SUITE.match(line)
        if m:
            suite = m.group(1)
        if suite and ("*** FAILED ***" in line or "*** ABORTED ***" in line):
            suites.add(suite)
        m = FAILED_BLOCK_ENTRY.match(line)
        if m:
            suites.add(m.group(1).rsplit(".", 1)[-1])
        m = TOTAL.search(line)
        if m:
            totals.append(int(m.group(1)))
        stripped = line.lstrip()
        if ("CompileException" in line and not stripped.startswith("at ")
                and not stripped.startswith("Caused by")):
            compile_exceptions += 1
    return counts, sorted(suites), totals, compile_exceptions


def main(argv):
    if len(argv) != 2:
        sys.exit("usage: tier1_summary.py <sbt log>")
    with open(argv[1], encoding="utf-8", errors="replace") as f:
        counts, suites, totals, compile_exceptions = summarize(f)
    if counts is None:
        print("no ScalaTest summary line found")
    else:
        passed, failed, canceled, ignored, pending = counts
        print(f"passed {passed}, failed {failed}, canceled {canceled}, "
              f"ignored {ignored}, pending {pending}")
    print("suites with failures: " + (", ".join(suites) if suites else "none"))
    if totals:
        last = totals[-1]
        print(f"wall time: {sum(totals)} s over {len(totals)} sbt command(s); "
              f"last {last} s ({last // 60} min {last % 60} s)")
    else:
        print("wall time: no sbt Total time line found")
    print(f"Janino CompileExceptions: {compile_exceptions}")


if __name__ == "__main__":
    main(sys.argv)
