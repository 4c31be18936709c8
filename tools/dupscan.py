#!/usr/bin/env python3
"""Repeated-code scan: the lines of each Scala file that sit in a run of
6 consecutive code lines occurring more than once anywhere under the
scanned directory (in the same file or another).

Lines are compared after collapsing whitespace; blank lines and lines
starting with `//`, `*` or `/*` (comments, scaladoc) are dropped before
runs are formed, so a run may span a comment. Prints, per file with any
repeated line, the count of repeated lines and the file; with `-v`, also
the repeated line ranges (source line numbers).

Usage: python3 tools/dupscan.py [-v] [dir]     (dir defaults to src/main)
"""
import collections
import os
import sys

RUN = 6


def code_lines(path):
    out = []
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            line = " ".join(raw.split())
            if line and not line.startswith(("//", "*", "/*")):
                out.append((no, line))
    return out


def scan(root):
    files = {}
    for dirpath, _, names in os.walk(root):
        for name in sorted(names):
            if name.endswith(".scala"):
                path = os.path.join(dirpath, name)
                files[path] = code_lines(path)
    runs = collections.defaultdict(list)
    for path, lines in files.items():
        for k in range(len(lines) - RUN + 1):
            runs[tuple(l for _, l in lines[k:k + RUN])].append((path, k))
    repeated = collections.defaultdict(set)
    for where in runs.values():
        if len(where) > 1:
            for path, k in where:
                repeated[path].update(no for no, _ in files[path][k:k + RUN])
    return repeated


def ranges(nos):
    out = []
    for no in sorted(nos):
        if out and no == out[-1][1] + 1:
            out[-1][1] = no
        else:
            out.append([no, no])
    return ", ".join(f"{a}-{b}" if a != b else str(a) for a, b in out)


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    root = args[0] if args else "src/main"
    repeated = scan(root)
    for path in sorted(repeated, key=lambda p: (-len(repeated[p]), p)):
        print(f"{len(repeated[path]):5d} {path}")
        if verbose:
            print(f"      lines {ranges(repeated[path])}")
    print(f"== {sum(len(v) for v in repeated.values())} repeated lines"
          f" in {len(repeated)} files")


if __name__ == "__main__":
    main(sys.argv[1:])
