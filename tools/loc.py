#!/usr/bin/env python3
"""Main-source size: total lines and code lines of the .scala files under
src/main/scala.

    python3 tools/loc.py [repo-root]

Prints two lines: `total <n>` (every line, what `wc -l` counts) and
`code <n>` (lines that are neither blank nor comment-only). A line is
comment-only when it starts with `//`, `/*`, `*` or `*/` after leading
whitespace, so scaladoc and block comments count as comments.
"""
import os
import sys


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    total = code = 0
    for d, _, names in os.walk(os.path.join(root, "src", "main", "scala")):
        for n in names:
            if not n.endswith(".scala"):
                continue
            with open(os.path.join(d, n), encoding="utf-8") as f:
                for line in f:
                    total += 1
                    s = line.strip()
                    if s and not s.startswith(("//", "/*", "*")):
                        code += 1
    print(f"total {total}")
    print(f"code {code}")


if __name__ == "__main__":
    main()
