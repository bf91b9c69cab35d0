#!/usr/bin/env python3
"""Line counts of Scala sources: `wc -l` and code lines per file, and totals.

A code line is a line that is neither blank nor entirely comment (`//`
lines and `/* ... */` blocks, Scaladoc included), so a size claim counts
code, not documentation.

    python3 scripts/loc.py                      # every .scala file under src/main
    python3 scripts/loc.py src/main/scala/graft/sources/VersionedTable.scala
    python3 scripts/loc.py src/main/scala/graft/sources   # a directory: its .scala files
"""
import os
import sys


def counts(path):
    """(wc -l, code lines) of one file."""
    with open(path, encoding="utf-8") as f:
        text = f.read()
    code = 0
    in_block = False
    for line in text.splitlines():
        rest = line.strip()
        has_code = False
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    rest = ""
                else:
                    in_block = False
                    rest = rest[end + 2:].strip()
            elif rest.startswith("//"):
                rest = ""
            elif rest.startswith("/*"):
                in_block = True
                rest = rest[2:]
            else:
                # code up to the end of the line; a block comment opened
                # after code on the same line still opens a block
                has_code = True
                start = rest.find("/*")
                if start < 0 or '"' in rest[:start]:
                    rest = ""
                else:
                    in_block = True
                    rest = rest[start + 2:]
        code += has_code
    return text.count("\n"), code


def sources(args):
    for arg in args or ["src/main"]:
        if os.path.isdir(arg):
            for root, _, names in sorted(os.walk(arg)):
                for name in sorted(names):
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield arg


def main():
    total_wc = total_code = 0
    for path in sources(sys.argv[1:]):
        wc, code = counts(path)
        total_wc += wc
        total_code += code
        print(f"{wc:8d} {code:8d}  {path}")
    print(f"{total_wc:8d} {total_code:8d}  total (wc -l, code)")


if __name__ == "__main__":
    main()
