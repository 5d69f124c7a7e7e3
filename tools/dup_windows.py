#!/usr/bin/env python3
"""Count code lines that sit in verbatim-repeated 5-line windows.

Usage: python3 tools/dup_windows.py <file>...

Per file, prints the number of code lines and the number of those that are
repeat-covered. A code line is a trimmed, non-blank line that does not start
with `//`, `*` or `/**`. Every run of 5 consecutive code lines is a window;
a window whose lines are all at most 3 characters long (closing braces,
`}}`, `)`) is skipped. A code line is repeat-covered when it lies in an
occurrence of a window after that window's first occurrence in the file.
"""
import sys

WINDOW = 5


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        out = []
        for raw in f:
            line = raw.strip()
            if not line or line.startswith(("//", "*", "/**")):
                continue
            out.append(line)
        return out


def repeat_covered(lines):
    seen = set()
    covered = set()
    for i in range(len(lines) - WINDOW + 1):
        window = tuple(lines[i:i + WINDOW])
        if all(len(l) <= 3 for l in window):
            continue
        if window in seen:
            covered.update(range(i, i + WINDOW))
        else:
            seen.add(window)
    return len(covered)


def main(paths):
    if not paths:
        sys.exit(__doc__.strip().splitlines()[2])
    for path in paths:
        lines = code_lines(path)
        print(f"{path}: {len(lines)} code lines, {repeat_covered(lines)} repeat-covered")


if __name__ == "__main__":
    main(sys.argv[1:])
