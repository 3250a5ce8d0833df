#!/usr/bin/env python3
"""Count Scala code lines under src/main.

A line counts unless it is blank or, after leading whitespace, starts
with `//`, `/*` or `*` (a line comment, or a line of a block or
Scaladoc comment). Comment-only edits therefore never change the count.

Usage:
    python3 tools/loc.py [ROOT]              # total, then one line per file, largest first
    python3 tools/loc.py --base REV [ROOT]   # code-line delta of the working tree against REV

ROOT defaults to src/main in the repository this script lives in. With
--base, each file under ROOT is counted in the working tree and, read
with `git show`, at the git revision REV. The first line is the total
(`delta<TAB>before<TAB>after<TAB>total`), then one line per changed
file, largest change first; a file added or deleted since REV counts
as 0 lines on the side where it is missing.
"""
import os
import signal
import subprocess
import sys


def code_lines(text):
    n = 0
    for line in text.splitlines():
        s = line.strip()
        if s and not s.startswith(("//", "/*", "*")):
            n += 1
    return n


def count_tree(root):
    """{path relative to root: code lines} for the .scala files on disk."""
    counts = {}
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                with open(p, encoding="utf-8") as f:
                    counts[os.path.relpath(p, root)] = code_lines(f.read())
    return counts


def _git(repo, *args):
    return subprocess.run(["git", "-C", repo, *args], check=True,
                          capture_output=True).stdout.decode("utf-8")


def count_rev(repo, root, rev):
    """{path relative to root: code lines} for the .scala files under
    root at git revision rev (root is relative to the repository)."""
    prefix = root.strip("/") + "/"
    names = _git(repo, "ls-tree", "-r", "--name-only", rev, "--", root)
    counts = {}
    for name in names.splitlines():
        if name.endswith(".scala"):
            counts[name[len(prefix):]] = code_lines(
                _git(repo, "show", f"{rev}:{name}"))
    return counts


def delta(repo, root, rev):
    """[(delta, before, after, path)] for every .scala file under root
    whose count differs between rev and the working tree, largest
    change first."""
    before = count_rev(repo, root, rev)
    after = count_tree(os.path.join(repo, root))
    rows = [(after.get(p, 0) - before.get(p, 0), before.get(p, 0),
             after.get(p, 0), p) for p in sorted(set(before) | set(after))]
    return sorted((r for r in rows if r[0] != 0),
                  key=lambda r: (-abs(r[0]), r[3]))


def main(argv):
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = None
    if argv[:1] == ["--base"]:
        if len(argv) < 2:
            sys.exit("usage: loc.py --base REV [ROOT]")
        base, argv = argv[1], argv[2:]
    root = argv[0] if argv else os.path.join(repo, "src", "main")
    if base is None:
        counts = count_tree(root)
        print(f"{sum(counts.values())}\ttotal")
        for p, n in sorted(counts.items(), key=lambda t: (-t[1], t[0])):
            print(f"{n}\t{p}")
        return
    rel = os.path.relpath(os.path.abspath(root), repo)
    rows = delta(repo, rel, base)
    before = sum(count_rev(repo, rel, base).values())
    after = sum(count_tree(os.path.join(repo, rel)).values())
    print(f"{after - before:+d}\t{before}\t{after}\ttotal")
    for d, b, a, p in rows:
        print(f"{d:+d}\t{b}\t{a}\t{p}")


if __name__ == "__main__":
    main(sys.argv[1:])
