#!/usr/bin/env python3
"""Lines added, removed and net per area of the tree since a base commit.

    python3 tools/netlines.py [base]

`base` defaults to HEAD. The diff runs from `base` to the working tree
(`git diff --numstat`), so uncommitted edits count, and so do untracked
files that `.gitignore` does not exclude (as added lines). Areas:
`src/main`, `src/test`, `perfbench`, and everything else. Binary files
count no lines.
"""
import subprocess
import sys

AREAS = ("src/main", "src/test", "perfbench")


def area(path):
    return next((a for a in AREAS if path.startswith(a + "/")), "other")


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def main():
    base = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    totals = {a: [0, 0] for a in AREAS + ("other",)}
    for line in git("diff", "--numstat", base).splitlines():
        added, removed, path = line.split("\t", 2)
        if added != "-":  # binary
            totals[area(path)][0] += int(added)
            totals[area(path)][1] += int(removed)
    for path in git("ls-files", "--others", "--exclude-standard").splitlines():
        try:
            with open(path, encoding="utf-8") as f:
                totals[area(path)][0] += sum(1 for _ in f)
        except (UnicodeDecodeError, IsADirectoryError):
            pass
    print(f"{'area':<10} {'added':>7} {'removed':>7} {'net':>7}")
    for a, (add, rem) in totals.items():
        print(f"{a:<10} {add:>7} {rem:>7} {add - rem:>+7}")


if __name__ == "__main__":
    main()
