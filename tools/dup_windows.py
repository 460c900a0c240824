#!/usr/bin/env python3
"""Print the code windows that occur more than once in the given Scala files.

Usage:  python3 tools/dup_windows.py [-n N] FILE.scala [FILE.scala ...]

Each line is whitespace-normalised (stripped, runs of blanks collapsed);
blank lines and comment lines (`//`, `/*`, `*`) are skipped. A window is
N consecutive remaining lines (default 5). Windows with the same text are
reported once per group of positions, and a run of overlapping repeated
windows (the same copy shifted by one line at every position) is folded
into one entry, printed as

    <file>:<line>[/<line>...]  <lines> lines  | <first line of the copy>

with the line numbers of each copy's first line. The last line is the
number of entries; it is 0 when no N-line window repeats.
"""
import argparse
import re
import sys


def code_lines(path):
    out = []
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            s = re.sub(r"\s+", " ", raw.strip())
            if not s or s.startswith(("//", "/*", "*")):
                continue
            out.append((path, no, s))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=5, help="window size in code lines")
    ap.add_argument("files", nargs="+")
    a = ap.parse_args()
    lines = [l for p in a.files for l in code_lines(p)]
    n = a.n
    groups = {}
    for i in range(len(lines) - n + 1):
        w = lines[i:i + n]
        if len({p for p, _, _ in w}) > 1:
            continue
        groups.setdefault(tuple(s for _, _, s in w), []).append(i)
    # the start positions of each repeated window
    rep = {tuple(ix) for ix in groups.values() if len(ix) > 1}
    seen = set()
    entries = []
    for ix in sorted(rep):
        if ix in seen:
            continue
        # extend while the same copies repeat one line further on
        span = n
        cur = ix
        while tuple(i + 1 for i in cur) in rep:
            cur = tuple(i + 1 for i in cur)
            seen.add(cur)
            span += 1
        locs = "/".join(str(lines[i][1]) for i in ix)
        entries.append(f"{lines[ix[0]][0]}:{locs}  {span} lines  | {lines[ix[0]][2]}")
    for e in entries:
        print(e)
    print(len(entries))
    return 0


if __name__ == "__main__":
    sys.exit(main())
