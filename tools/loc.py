#!/usr/bin/env python3
"""Line counts for Scala sources.

Usage: python3 tools/loc.py PATH [PATH ...]

PATH is a .scala file or a directory (searched recursively for .scala files).
Prints, per file and in total:
  raw   every line of the file;
  code  lines that are neither blank nor start (after indentation) with
        //, /* or *  -- comment and blank lines do not count;
  defs  public object-level defs: `def` at member indentation (two spaces)
        of a top-level object or class, without a private/protected
        modifier.
"""
import os
import re
import sys

DEF = re.compile(r"^  (?:(?:final|override|implicit|inline)\s+)*def\s+\w")


def count(path):
    raw = code = defs = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            raw += 1
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                code += 1
            if DEF.match(line):
                defs += 1
    return raw, code, defs


def scala_files(arg):
    if os.path.isfile(arg):
        return [arg]
    out = []
    for root, _, names in os.walk(arg):
        out += [os.path.join(root, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def main(args):
    if not args:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    # a file named twice (directly and through its directory) counts once
    files = list(dict.fromkeys(f for a in args for f in scala_files(a)))
    total = [0, 0, 0]
    width = max([len(f) for f in files] + [5])
    print(f"{'file':<{width}} {'raw':>7} {'code':>7} {'defs':>5}")
    for f in files:
        c = count(f)
        total = [t + x for t, x in zip(total, c)]
        print(f"{f:<{width}} {c[0]:>7} {c[1]:>7} {c[2]:>5}")
    print(f"{'total':<{width}} {total[0]:>7} {total[1]:>7} {total[2]:>5}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
