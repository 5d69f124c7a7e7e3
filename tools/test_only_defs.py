#!/usr/bin/env python3
"""List definitions that no program code names: reached only by tests, or by nothing.

Usage: python3 tools/test_only_defs.py <dir>...
       (e.g. python3 tools/test_only_defs.py src/main/scala perfbench/src)

The definitions are each top-level `object`, `class` and `trait` and each
`def` in the `.scala` files under the first directory. The names are looked
up in every `.scala` file under all the directories, outside comments. A
definition is listed when every occurrence of its name lies inside its own
extent or inside the extent of another listed definition, so a helper that
only a listed definition calls is listed too. The lookup is by name, not by
type: a definition shares its uses with every other definition of the same
name, and with any library method of that name that program code calls
(a test-only `UpsertSink.replace` would stay hidden behind the program's
calls to `String.replace`). `override def`, `main`, `apply` and `unapply` are never listed: the
framework, the JVM or their owner's name reaches them. Neither is an object
that holds a `main`: it is an entry point. Companions share their uses: a
top-level `class` or `trait` and the `object` of its name in its file count
a use inside either extent as inside both, so the pair is listed when only
tests name it.

A definition's extent runs from its line over every following line that is
blank or indented deeper, plus a closing `}` or `)` line at its own indent.

Per file with a listed definition, prints the listed names; then the total.
"""
import re
import sys
from pathlib import Path

IDENT = re.compile(r"[A-Za-z_]\w*")
DEF = re.compile(r"\b(override\s+)?def\s+([A-Za-z_]\w*)")
TOP = re.compile(r"^(?:(?:final|sealed|abstract|case|private|implicit)\s+)*(?:object|class|trait)\s+([A-Za-z_]\w*)")
CHAR = re.compile(r"'(\\.|[^\\'\n])'")
NEVER = {"main", "apply", "unapply"}


def strip_comments(text):
    """The text with every comment character blanked; offsets and newlines kept."""
    out = list(text)
    i, n = 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            end = text.find('"""', i + 3)
            i = n if end < 0 else end + 3
        elif text[i] == '"':
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            i += 1
        elif (char := CHAR.match(text, i)):
            i = char.end()
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                out[i] = " "
                i += 1
        elif text.startswith("/*", i):
            depth = 0
            while i < n:
                if text.startswith("/*", i):
                    depth += 1
                    out[i] = out[i + 1] = " "
                    i += 2
                elif text.startswith("*/", i):
                    depth -= 1
                    out[i] = out[i + 1] = " "
                    i += 2
                    if depth == 0:
                        break
                else:
                    if text[i] != "\n":
                        out[i] = " "
                    i += 1
        else:
            i += 1
    return "".join(out)


def indent(line):
    return len(line) - len(line.lstrip())


def extent_end(lines, first):
    """Index of the last line of the definition that starts on `first`."""
    own = indent(lines[first])
    end = first
    for j in range(first + 1, len(lines)):
        line = lines[j]
        if not line.strip():
            continue
        if indent(line) > own:
            end = j
            continue
        if indent(line) == own and line.lstrip()[:1] in "})":
            end = j
        break
    return end


def main(dirs):
    if not dirs:
        sys.exit(__doc__.strip().splitlines()[2])
    files = [p for d in dirs for p in sorted(Path(d).rglob("*.scala"))]
    defined_in = set(Path(dirs[0]).rglob("*.scala"))
    uses = {}      # name -> [(file, line)]
    defs = []      # (file, name, first line, last line)
    mains = []     # (file, line) of each `def main`
    tops = []      # the top-level object, class and trait definitions
    for path in files:
        lines = strip_comments(path.read_text(encoding="utf-8")).split("\n")
        for no, line in enumerate(lines):
            for m in IDENT.finditer(line):
                uses.setdefault(m.group(), []).append((path, no))
            if path not in defined_in:
                continue
            top = TOP.match(line)
            if top:
                tops.append((path, top.group(1), no, extent_end(lines, no)))
                defs.append(tops[-1])
            for m in DEF.finditer(line):
                if m.group(2) == "main":
                    mains.append((path, no))
                if not m.group(1) and m.group(2) not in NEVER:
                    defs.append((path, m.group(2), no, extent_end(lines, no)))

    def inside(use, d):
        return use[0] == d[0] and d[2] <= use[1] <= d[3]

    defs = [d for d in defs if not any(inside(m, d) and d[2] < m[1] for m in mains)]
    # each top-level definition -> itself and its same-named companions
    # (an entry-point object is no companion: its uses are program uses)
    tops = [d for d in tops if d in defs]
    pair = {d: [c for c in tops if c[:2] == d[:2]] for d in tops}

    def own(use, d):
        return any(inside(use, c) for c in pair.get(d, [d]))

    listed = []
    changed = True
    while changed:
        changed = False
        for d in defs:
            if d in listed:
                continue
            if all(own(u, d) or any(inside(u, l) for l in listed) for u in uses[d[1]]):
                listed.append(d)
                changed = True

    by_file = {}
    for path, name, first, _ in sorted(listed, key=lambda d: (str(d[0]), d[2])):
        by_file.setdefault(path, []).append(name)
    for path, names in by_file.items():
        print(f"{path}: {len(names)} named by no program code: {', '.join(names)}")
    print(f"total: {len(listed)} of {len(defs)} definitions in {len(by_file)} files")


if __name__ == "__main__":
    main(sys.argv[1:])
