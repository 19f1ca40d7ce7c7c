#!/usr/bin/env python3
"""Clone scan: how much of a source file is pasted code.

Usage: python3 tools/clones.py [file.scala ...]
       (no arguments: every .scala file under src/main)

Per file, blank lines and comment lines (starting with //, /* or *) are
skipped and the rest are stripped of indentation. Every window of 6
consecutive such lines whose text is at least 200 characters long is a
candidate; a file's score is the number of windows whose text occurs
more than once in that file. Prints one "<score> <file>" line per file
with a nonzero score, highest first, then the total. Stdlib only.
"""
import collections
import os
import sys

WINDOW = 6
MIN_CHARS = 200


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        stripped = (line.strip() for line in f)
        return [s for s in stripped if s and not s.startswith(("//", "/*", "*"))]


def score(path):
    lines = code_lines(path)
    windows = collections.Counter(
        "\n".join(lines[i:i + WINDOW]) for i in range(len(lines) - WINDOW + 1))
    return sum(n for w, n in windows.items() if n > 1 and len(w) >= MIN_CHARS)


def main(paths):
    if not paths:
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src", "main")
        paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                       for f in fs if f.endswith(".scala"))
    scores = sorted(((score(p), p) for p in paths), reverse=True)
    for s, p in scores:
        if s:
            print(f"{s:5d} {os.path.relpath(p)}")
    print(f"{sum(s for s, _ in scores):5d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
