#!/usr/bin/env python3
"""Repeated blocks of source lines: every block of at least 4 consecutive
non-blank lines that occurs more than once under a source tree.

    python3 tools/dup_blocks.py [<dir>]        (default: src/main/scala)

Lines are compared on their exact text after trailing whitespace is
stripped, so indentation counts. A block must hold at least 100
non-whitespace characters; shorter ones (closing braces, one-word SQL
lines) repeat by accident. Blocks are found as 4-line windows and a
repeated window extends into its neighbours, so a longer copy prints
once as one run.

For each run of repeated lines the tool prints its place, the place of
the first copy and the lines themselves. The first copy, in file-name
then line order, is the original; every later occurrence is a repeat.
The last line is the total number of repeated lines: each line that lies
in some later occurrence of a repeated block, counted once.
"""
import sys
from collections import defaultdict
from pathlib import Path

WINDOW = 4
MIN_CHARS = 100


def read_lines(root):
    files = {}
    for p in sorted(Path(root).rglob("*.scala")):
        files[str(p)] = [l.rstrip() for l in p.read_text().split("\n")]
    return files


def windows(files):
    """Every qualifying window's text -> its (file, first line) sites, in order."""
    sites = defaultdict(list)
    for f, lines in files.items():
        for i in range(len(lines) - WINDOW + 1):
            block = lines[i:i + WINDOW]
            if any(not l.strip() for l in block):
                continue
            if sum(len("".join(l.split())) for l in block) < MIN_CHARS:
                continue
            sites["\n".join(block)].append((f, i))
    return sites


def main(root):
    files = read_lines(root)
    repeated = {}  # (file, line index) -> (first-copy file, line index)
    for occ in windows(files).values():
        if len(occ) < 2:
            continue
        of, oi = occ[0]
        for f, i in occ[1:]:
            for k in range(WINDOW):
                repeated.setdefault((f, i + k), (of, oi + k))
    runs = []
    for f, i in sorted(repeated):
        if runs and runs[-1][0] == f and runs[-1][2] == i - 1:
            runs[-1][2] = i
        else:
            runs.append([f, i, i])
    for f, a, b in runs:
        of, oi = repeated[(f, a)]
        print(f"{f}:{a + 1}-{b + 1} ({b - a + 1} lines) repeats {of}:{oi + 1}")
        for l in files[f][a:b + 1]:
            print(f"    {l}")
    print(f"repeated lines: {len(repeated)}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "src/main/scala")
