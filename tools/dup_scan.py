#!/usr/bin/env python3
"""Count the source lines that repeat an earlier block verbatim.

A block is 3 consecutive lines of one file, compared after trimming each
line; blocks shorter than 90 trimmed characters in total are ignored. Every
line of a block equal to a block seen earlier (in the same or an earlier
file, in argument order) counts once as repeated.

Usage: python3 tools/dup_scan.py FILE... [--runs]
--runs also lists each run of repeated lines with the line its first copy
starts at (the line numbers of the files concatenated in argument order).
"""
import sys

WINDOW, MIN_CHARS = 3, 90


def scan(paths):
    lines = []  # (file, trimmed text)
    for p in paths:
        with open(p, encoding="utf-8") as f:
            lines += [(p, l.strip()) for l in f.read().split("\n")]
    seen, repeated = {}, {}
    for k in range(len(lines) - WINDOW + 1):
        win = lines[k:k + WINDOW]
        if len({f for f, _ in win}) > 1:
            continue
        key = "\n".join(t for _, t in win)
        if len(key) - (WINDOW - 1) < MIN_CHARS:
            continue
        if key in seen:
            for i in range(WINDOW):
                repeated.setdefault(k + i, seen[key] + i)
        else:
            seen[key] = k
    return lines, repeated


def main(argv):
    paths = [a for a in argv if a != "--runs"]
    lines, repeated = scan(paths)
    if "--runs" in argv:
        run = None
        for i in sorted(repeated) + [None]:
            if run and i == run[1] + 1:
                run[1] = i
                continue
            if run:
                a, b = run
                print(f"{a + 1}-{b + 1} ({b - a + 1}) <- {repeated[a] + 1}: {lines[a][1][:80]}")
            run = [i, i] if i is not None else None
    print(f"{len(repeated)} repeated lines of {len(lines)}")


if __name__ == "__main__":
    main(sys.argv[1:])
