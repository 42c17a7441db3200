#!/usr/bin/env python3
"""Count main-code lines: non-blank lines that carry code outside comments.

    python3 scripts/loc.py [--rev REV ...] [path ...]

Each path is a source file or a directory searched for *.scala and *.java
(default: src/main). Prints one "<lines>  <file>" row per file, sorted by
path, then the total. With --rev the files are read at that git revision
(`git ls-tree` + `git show`, no checkout); repeat it (for example
`--rev <parent> --rev HEAD`) for one column per revision, a file absent
at a revision showing "-". A line counts when at least one non-whitespace
character lies outside `//` line comments and (nested) `/* */` block
comments; string literals ("...", \"\"\"...\"\"\" and character literals) are
skipped, so comment markers inside them do not count. Deleting a comment
therefore never changes the count.
"""
import argparse
import os
import subprocess
import sys

SUFFIXES = (".scala", ".java")


def code_lines(src):
    """Number of lines of `src` holding code outside comments."""
    count = 0
    depth = 0          # nesting depth of /* */ comments (Scala nests them)
    in_triple = False  # inside a """ string, which may span lines
    for line in src.splitlines():
        has_code = in_triple and line.strip() != ""
        i, n = 0, len(line)
        while i < n:
            if in_triple:
                end = line.find('"""', i)
                if end < 0:
                    break
                i, in_triple = end + 3, False
                continue
            if depth > 0:
                if line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth, i = 1, i + 2
                continue
            c = line[i]
            if not c.isspace():
                has_code = True
            if line.startswith('"""', i):
                in_triple, i = True, i + 3
            elif c == '"':
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < n and (line[i + 2] == "'" or line[i + 1] == "\\"):
                close = line.find("'", i + 2 if line[i + 1] == "\\" else i + 1)
                i = close + 1 if close > 0 else i + 1
            else:
                i += 1
        if has_code:
            count += 1
    return count


def sources(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for root, _, files in os.walk(p):
            for f in files:
                if f.endswith(SUFFIXES):
                    yield os.path.join(root, f)


def counts_at(rev, paths):
    """{file: code lines} of the sources under `paths` at git revision `rev`."""
    git = lambda *a: subprocess.run(["git", *a], capture_output=True, text=True,
                                    check=True).stdout
    files = git("ls-tree", "-r", "--name-only", rev, "--", *paths).splitlines()
    return {f: code_lines(git("show", f"{rev}:{f}"))
            for f in files if f.endswith(SUFFIXES)}


def counts_here(paths):
    out = {}
    for f in set(sources(paths)):
        with open(f, encoding="utf-8") as fh:
            out[f] = code_lines(fh.read())
    return out


def main(argv):
    args = argparse.ArgumentParser(description="Count main-code lines.")
    args.add_argument("--rev", action="append", default=[],
                      help="git revision to count at (repeatable)")
    args.add_argument("paths", nargs="*", default=["src/main"])
    a = args.parse_args(argv[1:])
    paths = [os.path.normpath(p) for p in a.paths]
    columns = [counts_at(r, paths) for r in a.rev] or [counts_here(paths)]
    for f in sorted(set().union(*columns)):
        print("".join(f"{c[f]:7d}  " if f in c else "      -  " for c in columns) + f)
    print("".join(f"{sum(c.values()):7d}  " for c in columns) + "total")


if __name__ == "__main__":
    main(sys.argv)
