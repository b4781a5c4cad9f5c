#!/usr/bin/env python3
"""Main-code line change of the working tree against a base commit.

Usage: python3 tools/main_lines.py <base>

Counts added, deleted and net lines of src/main/**/*.scala between
<base> and the working tree (staged, unstaged and untracked files alike),
grouped by top-level package: the directory under src/main/scala/graft/,
or "graft" for files directly in it. Run from anywhere inside the repo.
"""
import subprocess
import sys
from collections import defaultdict

ROOT = "src/main/scala/graft/"


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def package(path):
    rest = path[len(ROOT):] if path.startswith(ROOT) else path
    return rest.split("/")[0] if "/" in rest else "graft"


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip())
    base = sys.argv[1]
    top = git("rev-parse", "--show-toplevel").strip()
    counts = defaultdict(lambda: [0, 0])
    numstat = git("-C", top, "diff", "--numstat", base, "--",
                  "src/main/*.scala")
    for line in numstat.splitlines():
        added, deleted, path = line.split("\t")
        c = counts[package(path)]
        c[0] += int(added)
        c[1] += int(deleted)
    untracked = git("-C", top, "ls-files", "--others", "--exclude-standard",
                    "--", "src/main/*.scala")
    for path in untracked.splitlines():
        with open(f"{top}/{path}", encoding="utf-8") as f:
            counts[package(path)][0] += sum(1 for _ in f)
    print(f"{'package':<14}{'added':>8}{'deleted':>9}{'net':>8}")
    total = [0, 0]
    for pkg in sorted(counts):
        a, d = counts[pkg]
        total[0] += a
        total[1] += d
        print(f"{pkg:<14}{a:>8}{d:>9}{a - d:>+8}")
    print(f"{'total':<14}{total[0]:>8}{total[1]:>9}{total[0] - total[1]:>+8}")


if __name__ == "__main__":
    main()
