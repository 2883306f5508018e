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
Then lists, per file, the public object-level defs that nothing under
src/main/scala mentions (test-only API). A def is mentioned by
`Owner.name` in any main source, or by `name(` in its own file; comment
lines and the def's own line never count. `override` defs are left out:
their callers reach them through the supertype.
"""
import os
import re
import sys

DEF = re.compile(r"^  (?:(?:final|override|implicit|inline)\s+)*def\s+(\w+)")
OWNER = re.compile(r"^(?:(?:final|sealed|abstract|case|private|protected)\s+)*"
                   r"(?:object|class|trait)\s+(\w+)")
MAIN = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    os.pardir, "src", "main", "scala")


def code_lines(path):
    """(line number, text) of every non-comment line."""
    with open(path, encoding="utf-8") as f:
        return [(i, line) for i, line in enumerate(f, 1)
                if not line.strip().startswith(("//", "/*", "*"))]


def public_defs(path):
    """(owner, name, line number) of the file's public object-level defs."""
    out, owner = [], None
    for i, line in code_lines(path):
        m = OWNER.match(line)
        if m:
            owner = m.group(1)
        m = DEF.match(line)
        if m and owner and "override" not in line.split("def")[0]:
            out.append((owner, m.group(1), i))
    return out


def test_only(files):
    """file -> names of its public object-level defs no main source uses."""
    main = {os.path.realpath(f): code_lines(f) for f in scala_files(MAIN)}
    out = {}
    for f in files:
        own = main.get(os.path.realpath(f)) or code_lines(f)
        unused = []
        for owner, name, at in public_defs(f):
            qual = re.compile(r"\b%s\.%s\b" % (owner, name))
            call = re.compile(r"\b%s\(" % name)
            used = any(qual.search(t) for lines in main.values()
                       for i, t in lines if not (lines is own and i == at))
            used = used or any(call.search(t) for i, t in own if i != at)
            if not used:
                unused.append(name)
        out[f] = unused
    return out


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
    unused = test_only(files)
    print(f"\npublic defs no main source mentions: "
          f"{sum(len(v) for v in unused.values())}")
    for f in files:
        if unused[f]:
            print(f"{f}: {', '.join(unused[f])}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
