#!/usr/bin/env python3
"""Count non-comment lines of the Scala sources under src/main.

A line counts unless it is blank, a `//` line, or part of a `/* ... */`
comment block (scaladoc included). A line with code before or after a
block comment counts. Prints one `count path` line per file, then the
total.

    python3 tools/loc.py [repo root]       # default: the current directory
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        code = False
        while line:
            if in_block:
                end = line.find("*/")
                if end < 0:
                    line = ""
                else:
                    in_block = False
                    line = line[end + 2:].strip()
            elif line.startswith("//"):
                line = ""
            elif line.startswith("/*"):
                in_block = True
                line = line[2:]
            else:
                code = True
                start = line.find("/*")
                line = line[start:] if start >= 0 else ""
        n += code
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    main_dir = os.path.join(root, "src", "main")
    counts = []
    for d, _, files in os.walk(main_dir):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    counts.append((os.path.relpath(p, root), code_lines(fh.read())))
    for path, n in sorted(counts):
        print(f"{n:6d} {path}")
    print(f"{sum(n for _, n in counts):6d} total")


if __name__ == "__main__":
    main()
