#!/usr/bin/env python3
"""Count code lines in Scala sources: lines that hold something other
than whitespace and comments.

    python3 scripts/code_lines.py src/main/scala
    python3 scripts/code_lines.py src/main/scala/graft/ops/Retract.scala ...

Each argument is a .scala file or a directory searched for them. Prints
one row per file (code lines, path), sorted by path, then the total.
Blank lines, `//` line comments and `/* ... */` block comments
(scaladoc included, nested blocks too) do not count; a line with code
before or after a comment does. String literals, triple-quoted ones
included, are skipped over, so a `//` inside a string is not a comment.
"""
import os
import sys


def code_lines(text):
    """The number of lines of `text` that carry code."""
    n = 0
    depth = 0          # nesting depth of /* */ block comments
    in_triple = False  # inside a """ string
    for line in text.split("\n"):
        has_code = in_triple and line.strip() != ""
        i = 0
        while i < len(line):
            c = line[i]
            if depth > 0:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_triple = True
                i += 3
            elif c == '"':
                has_code = True
                i += 1
                while i < len(line) and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < len(line) and (
                    line[i + 2] == "'" or line[i + 1] == "\\"):
                has_code = True  # a char literal such as '"' or '\n'
                i = line.index("'", i + 2) + 1 if "'" in line[i + 2:] else len(line)
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if has_code:
            n += 1
    return n


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _, names in os.walk(path):
        found += [os.path.join(root, f) for f in names if f.endswith(".scala")]
    return found


def main(paths):
    if not paths:
        print(__doc__.strip())
        return 2
    files = sorted({f for p in paths for f in scala_files(p)})
    total = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total ({len(files)} files)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
