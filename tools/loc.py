#!/usr/bin/env python3
"""Count non-comment, non-blank Scala lines per file and in total.

Usage: loc.py [path ...]   (default: src/main/scala)

A path may be a directory (every *.scala file under it) or a file.
Skipped lines: blank lines, lines whose first non-blank characters are
`//`, and every line of a `/* ... */` or `/** ... */` block that starts
a line, up to and including the line that closes it. A comment at the
end of a code line does not make the line a comment.

Prints one `<count>  <file>` line per file, sorted by path, then
`<count>  total`.
"""
import os
import sys


def count(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                continue
            if not s or s.startswith("//"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s[2:]
                continue
            n += 1
    return n


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _, files in os.walk(path):
        out.extend(os.path.join(root, f) for f in files if f.endswith(".scala"))
    return out


def main(paths):
    files = sorted(f for p in paths for f in scala_files(p))
    total = 0
    for f in files:
        c = count(f)
        total += c
        print(f"{c:6d}  {f}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:] or ["src/main/scala"])
