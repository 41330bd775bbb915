#!/usr/bin/env python3
"""Count code lines: non-blank lines that do not start with `//`, `/*` or `*`.

This is the figure ROADMAP.md and CHANGES.md cite as "code lines"
(leading whitespace is ignored). Prints one line per file and, for more
than one file, the total. A directory argument counts every `.scala`
file under it.

Usage: python3 tools/code_lines.py <path>...
"""
import os
import sys


def code_lines(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                n += 1
    return n


def files(arg):
    if os.path.isdir(arg):
        for root, _, names in sorted(os.walk(arg)):
            for name in sorted(names):
                if name.endswith(".scala"):
                    yield os.path.join(root, name)
    else:
        yield arg


def main(args):
    if not args:
        sys.exit(__doc__.strip().splitlines()[-1])
    paths = [p for a in args for p in files(a)]
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:7d}  {p}")
    if len(paths) > 1:
        print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
