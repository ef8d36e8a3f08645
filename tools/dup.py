#!/usr/bin/env python3
"""Count duplicated lines: lines that are second-or-later copies of a
block of 3 or more consecutive lines.

Usage: python3 tools/dup.py [--show] PATH...

PATH may be a file or a directory (searched for *.scala). Lines are
compared with leading and trailing whitespace stripped, and blank lines
are skipped, so re-indented copies still match. A block is any run of
N = 3 consecutive non-blank lines; a block made only of punctuation
(closing braces and parentheses) is ignored. The first
occurrence of a block, in file order and then line order, is the
original; every line covered by a later occurrence counts once as a
duplicate. Blocks are matched across files too, so a file's count
includes copies of blocks first seen in an earlier file.

Prints `<duplicated lines> / <non-blank lines>  <path>` per file and a
total. `--show` also prints each duplicated line's number and text.
"""
import os
import re
import sys

ALNUM = re.compile(r"[A-Za-z0-9]")
N = 3


def files_of(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in sorted(os.walk(p)):
                for n in sorted(names):
                    if n.endswith(".scala"):
                        yield os.path.join(root, n)
        else:
            yield p


def main(argv):
    show = "--show" in argv
    paths = [a for a in argv if a != "--show"]
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    seen = set()
    total_dup = total_lines = 0
    for path in files_of(paths):
        with open(path, encoding="utf-8") as f:
            lines = [(i + 1, l.strip()) for i, l in enumerate(f) if l.strip()]
        dup = set()
        for k in range(len(lines) - N + 1):
            block = tuple(t for _, t in lines[k:k + N])
            if not any(ALNUM.search(t) for t in block):
                continue
            if block in seen:
                dup.update(lines[k + j][0] for j in range(N))
            else:
                seen.add(block)
        total_dup += len(dup)
        total_lines += len(lines)
        print(f"{len(dup):6d} / {len(lines):6d}  {path}")
        if show:
            text = dict(lines)
            for no in sorted(dup):
                print(f"    {no:6d}: {text[no]}")
    print(f"{total_dup:6d} / {total_lines:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
