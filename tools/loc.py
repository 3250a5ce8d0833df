#!/usr/bin/env python3
"""Count Scala code lines under src/main.

A line counts unless it is blank or, after leading whitespace, starts
with `//`, `/*` or `*` (a line comment, or a line of a block or
Scaladoc comment). Comment-only edits therefore never change the count.

Usage:
    python3 tools/loc.py [ROOT]   # total, then one line per file, largest first

ROOT defaults to src/main in the repository this script lives in.
"""
import os
import signal
import sys


def code_lines(text):
    n = 0
    for line in text.splitlines():
        s = line.strip()
        if s and not s.startswith(("//", "/*", "*")):
            n += 1
    return n


def main(argv):
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = argv[0] if argv else os.path.join(repo, "src", "main")
    per_file = []
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                with open(p, encoding="utf-8") as f:
                    per_file.append((code_lines(f.read()), os.path.relpath(p, root)))
    print(f"{sum(n for n, _ in per_file)}\ttotal")
    for n, p in sorted(per_file, key=lambda t: (-t[0], t[1])):
        print(f"{n}\t{p}")


if __name__ == "__main__":
    main(sys.argv[1:])
