#!/usr/bin/env python3
"""Count code lines: lines that are neither blank nor comment.

Usage: python3 tools/code_lines.py [--rev REV] [--per-file] PATH...

Each PATH is a file or a directory (walked for *.scala, *.java and *.py
files). Prints one `<count> <PATH>` line per PATH, the tree total, and
with --per-file a line per file first. With --rev, the files are read at
git revision REV of the repository in the current directory instead of
from the working tree, so a change's line figure is

    python3 tools/code_lines.py --rev <parent> src/main
    python3 tools/code_lines.py src/main

A line counts when any character outside a comment is not whitespace.
Scala/Java comments are `//` to end of line and `/* ... */` (nested, as
Scala nests them); Python comments are `#` to end of line. String and
character literals are skipped while scanning, so a `//` or `/*` inside a
string does not start a comment. Python docstrings count as code.
"""
import os
import subprocess
import sys

EXTS = (".scala", ".java", ".py")


def code_lines(text, python=False):
    """The number of lines of `text` with code outside comments."""
    n = 0
    depth = 0      # block-comment nesting depth (carries across lines)
    quote = None   # open string delimiter: '"', '"""', "'" or "'''"
    for line in text.split("\n"):
        code = False
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
            elif quote is not None:
                code = code or not c.isspace()
                if c == "\\" and len(quote) == 1:
                    i += 2
                elif line.startswith(quote, i):
                    i += len(quote)
                    quote = None
                else:
                    i += 1
            elif python and c == "#":
                break
            elif not python and line.startswith("//", i):
                break
            elif not python and line.startswith("/*", i):
                depth = 1
                i += 2
            elif c in "\"'":
                code = True
                if line.startswith(c * 3, i):
                    quote = c * 3
                    i += 3
                elif c == '"' or python:
                    quote = c
                    i += 1
                else:
                    # a Scala char literal ('a', '\n') or a symbol/quote
                    # mark: skip a closed literal, else the mark alone
                    end = line.find("'", i + 2 if line[i + 1:i + 2] == "\\"
                                    else i + 1)
                    i = end + 1 if 0 < end - i <= 7 else i + 1
            else:
                code = code or not c.isspace()
                i += 1
        if quote is not None and len(quote) == 1:
            quote = None  # single-line literals never span lines
        n += code
    return n


def tracked_files(path, rev):
    if rev is None:
        if os.path.isfile(path):
            return [path]
        out = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            out += [os.path.join(root, f) for f in sorted(files)
                    if f.endswith(EXTS)]
        return out
    names = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev,
                            "--", path], check=True, capture_output=True,
                           text=True).stdout.split()
    return [f for f in names if f.endswith(EXTS)]


def read(path, rev):
    if rev is None:
        with open(path, encoding="utf-8") as f:
            return f.read()
    return subprocess.run(["git", "show", f"{rev}:{path}"], check=True,
                          capture_output=True, text=True).stdout


def main(argv):
    rev, per_file, paths = None, False, []
    it = iter(argv)
    for a in it:
        if a == "--rev":
            rev = next(it)
        elif a == "--per-file":
            per_file = True
        else:
            paths.append(a)
    if not paths:
        sys.exit(__doc__)
    total = 0
    for p in paths:
        tree = 0
        for f in tracked_files(p, rev):
            n = code_lines(read(f, rev), python=f.endswith(".py"))
            tree += n
            if per_file:
                print(f"{n:8d} {f}")
        print(f"{tree:8d} {p}")
        total += tree
    if len(paths) > 1:
        print(f"{total:8d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
