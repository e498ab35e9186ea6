#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of the Scala sources.

Usage: python3 tools/loc.py [dir]      (default: src/main of this repo)

Blank lines, `//` comment lines and `/* ... */` blocks (scaladoc
included) are not counted; a line that opens or closes a block comment
counts only if code follows the block on that line. Prints one number,
the figure every change reports its net line delta against.
"""
import os
import sys


def count_file(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                if "*/" not in s:
                    continue
                in_block = False
                s = s.split("*/", 1)[1].strip()
            elif s.startswith("/*"):
                if "*/" not in s[2:]:
                    in_block = True
                    continue
                s = s[2:].split("*/", 1)[1].strip()
            if s and not s.startswith("//"):
                n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "src", "main")
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                total += count_file(os.path.join(d, f))
    print(total)


if __name__ == "__main__":
    main()
