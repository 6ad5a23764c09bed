#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala source.

    python3 scripts/loc.py <file-or-dir>...

Prints one line per .scala file (directories are walked) and a total.
A line counts when any character on it lies outside a `//` or `/* */`
comment; string literals (plain, interpolated and triple-quoted) are
skipped over, so `//` or `/*` inside a string does not open a comment.
Nested block comments are handled as Scala nests them.
"""
import os
import sys


def code_lines(text):
    """Number of lines holding at least one non-space code character."""
    n = 0
    depth = 0          # block-comment nesting depth
    quote = None       # None, '"' or '"""'
    i = 0
    has_code = False
    while i < len(text):
        c = text[i]
        if c == "\n":
            n += has_code
            has_code = False
            i += 1
            continue
        if depth:
            if text.startswith("*/", i):
                depth -= 1
                i += 2
            elif text.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
            continue
        if quote:
            has_code = has_code or not c.isspace()
            if quote == '"""':
                if text.startswith('"""', i):
                    quote = None
                    i += 3
                else:
                    i += 1
            elif c == "\\":
                i += 2
            else:
                if c == '"':
                    quote = None
                i += 1
            continue
        if text.startswith("//", i):
            j = text.find("\n", i)
            i = len(text) if j < 0 else j
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if text.startswith('"""', i):
            quote = '"""'
            has_code = True
            i += 3
            continue
        if c == '"':
            quote = '"'
            has_code = True
            i += 1
            continue
        if c == "'" and i + 2 < len(text) and text[i + 2] == "'":
            has_code = True  # a char literal such as '"' or '/'
            i += 3
            continue
        has_code = has_code or not c.isspace()
        i += 1
    return n + has_code


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for d, _, files in os.walk(path):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for arg in argv:
        if not os.path.exists(arg):
            print(f"loc.py: no such path: {arg}", file=sys.stderr)
            return 2
        for f in scala_files(arg):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
