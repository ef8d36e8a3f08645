#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per package.

Usage: python3 tools/loc.py [SRC_ROOT]   (default: src/main/scala)

A line counts when it holds at least one character of code outside a
comment: `//` line comments, `/* */` block comments (nested, as Scala
allows) and `/** */` scaladoc are skipped; comment markers inside string
and character literals (including triple-quoted strings) are code.
The package is the file's directory relative to SRC_ROOT, dot-separated.
"""
import os
import sys


def code_lines(src):
    """Number of lines of `src` that carry code outside comments."""
    count = 0
    depth = 0          # block-comment nesting depth
    in_str = None      # None, '"', '"""' or "'"
    has_code = False
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if c == "\n":
            if has_code:
                count += 1
            has_code = False
            if in_str in ('"', "'"):   # unterminated single-line literal
                in_str = None
            i += 1
            continue
        if depth:
            if src.startswith("/*", i):
                depth += 1
                i += 2
            elif src.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if in_str:
            has_code = True
            if in_str == '"""':
                if src.startswith('"""', i):
                    i += 3
                    while i < n and src[i] == '"':   # """a"""" ends on the last quote
                        i += 1
                    in_str = None
                else:
                    i += 1
            elif c == "\\":
                i += 2
            elif c == in_str:
                in_str = None
                i += 1
            else:
                i += 1
            continue
        if src.startswith("//", i):
            while i < n and src[i] != "\n":
                i += 1
            continue
        if src.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if src.startswith('"""', i):
            in_str = '"""'
            has_code = True
            i += 3
            continue
        if c == '"':
            in_str = '"'
            has_code = True
            i += 1
            continue
        if c == "'":
            # a char literal ('x', '\n') — not a symbol literal or a type param
            end = i + 3 if i + 1 < n and src[i + 1] != "\\" else i + 4
            if end <= n and src[end - 1] == "'":
                has_code = True
                i = end
                continue
        if not c.isspace():
            has_code = True
        i += 1
    if has_code:
        count += 1
    return count


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main/scala"
    per_pkg = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    pkg = os.path.relpath(d, root).replace(os.sep, ".")
                    per_pkg[pkg] = per_pkg.get(pkg, 0) + code_lines(fh.read())
    width = max([len(p) for p in per_pkg] + [5])
    for pkg in sorted(per_pkg):
        print(f"{pkg:<{width}}  {per_pkg[pkg]:>6}")
    print(f"{'total':<{width}}  {sum(per_pkg.values()):>6}")


if __name__ == "__main__":
    main()
