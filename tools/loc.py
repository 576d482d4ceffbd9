#!/usr/bin/env python3
"""Count non-blank, non-comment lines of the main Scala code.

Usage: python3 tools/loc.py [REV] [--root src/main/scala]

Counts every `*.scala` file under the root twice: in the working tree
and at git revision REV (default HEAD, read with `git show`). Prints
one line per file whose count changed (`<delta> <before> -> <after>
<path>`) and the total. Standard library only.

A line counts when it holds any character outside a comment. The
scanner knows Scala's lexical shapes that hide comment markers:
`//` line comments, NESTED `/* ... */` block comments, "..." and
triple-quoted strings (so "file://" is code, not a comment), and
character literals such as '"'.
"""
import argparse
import os
import subprocess
import sys


def code_lines(text):
    """The number of lines of `text` holding code outside comments."""
    count = 0
    has_code = False
    depth = 0        # block comment nesting
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            count += has_code
            has_code = False
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif text.startswith('"""', i):
            has_code = True
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':  # closing """" quotes
                end += 1
            count += text.count("\n", i, end)
            i = end
        elif c == '"':
            has_code = True
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            i += 1 if i < n and text[i] == '"' else 0
        elif c == "'" and (text.startswith("\\", i + 1) and
                           text.find("'", i + 3) == i + 3 or
                           text.startswith("'", i + 2)):
            has_code = True
            i += 4 if text[i + 1] == "\\" else 3
        else:
            has_code = has_code or not c.isspace()
            i += 1
    return count + has_code


def tree_counts(root):
    counts = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    counts[os.path.relpath(p)] = code_lines(fh.read())
    return counts


def rev_counts(rev, root):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", root],
        check=True, capture_output=True, text=True).stdout.split()
    return {p: code_lines(subprocess.run(
        ["git", "show", f"{rev}:{p}"], check=True, capture_output=True,
        text=True).stdout) for p in names if p.endswith(".scala")}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev", nargs="?", default="HEAD")
    ap.add_argument("--root", default="src/main/scala")
    a = ap.parse_args(argv)
    before, after = rev_counts(a.rev, a.root), tree_counts(a.root)
    for p in sorted(set(before) | set(after)):
        b, w = before.get(p, 0), after.get(p, 0)
        if b != w:
            print(f"{w - b:+6d} {b:6d} -> {w:6d} {p}")
    b, w = sum(before.values()), sum(after.values())
    print(f"{w - b:+6d} {b:6d} -> {w:6d} total ({a.root} vs {a.rev})")


if __name__ == "__main__":
    main(sys.argv[1:])
