#!/usr/bin/env python3
"""Line deltas of src/main and src/test between a git revision and the
working tree, split into code, comment and blank lines.

    python3 tools/loc_delta.py <base-rev>

Counts *.scala and *.java files. A line is code if any character of it
lies outside a comment, comment if it holds only comment text (// lines,
/* */ and scaladoc blocks, nested blocks included), and blank otherwise.
String literals (single-line and triple-quoted) are code, so a "//" or
"/*" inside one does not open a comment. The working-tree side reads the
files on disk, tracked or not. Standard library only.
"""
import os
import subprocess
import sys

ROOTS = ("src/main", "src/test")
EXTS = (".scala", ".java")


def classify(text):
    """(code, comment, blank) line counts of one source file."""
    code = comment = blank = 0
    depth = 0          # block-comment nesting depth carried across lines
    in_triple = False  # inside a """...""" literal carried across lines
    for line in text.splitlines():
        has_code = in_triple and line.strip() != ""
        has_comment = depth > 0 and line.strip() != ""
        i, n = 0, len(line)
        while i < n:
            two, three = line[i:i + 2], line[i:i + 3]
            if in_triple:
                if three == '"""':
                    in_triple = False
                    i += 3
                else:
                    i += 1
                has_code = True
            elif depth > 0:
                if two == "*/":
                    depth -= 1
                    i += 2
                elif two == "/*":
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif two == "//":
                has_comment = True
                break
            elif two == "/*":
                depth += 1
                has_comment = True
                i += 2
            elif three == '"""':
                in_triple = True
                has_code = True
                i += 3
            elif line[i] == '"':
                # a one-line string: skip to its closing quote
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and i + 2 < n and (line[i + 2] == "'" or line[i + 1] == "\\"):
                # a char literal such as '"' or '\n'
                has_code = True
                close = line.find("'", i + 2)
                i = close + 1 if close > 0 else n
            else:
                if not line[i].isspace():
                    has_code = True
                i += 1
        if has_code:
            code += 1
        elif has_comment:
            comment += 1
        else:
            blank += 1
    return code, comment, blank


def tally(files):
    """{root: [code, comment, blank, files]} over (path, text) pairs."""
    out = {r: [0, 0, 0, 0] for r in ROOTS}
    for path, text in files:
        root = next(r for r in ROOTS if path.startswith(r + "/"))
        c, m, b = classify(text)
        acc = out[root]
        acc[0] += c
        acc[1] += m
        acc[2] += b
        acc[3] += 1
    return out


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True).stdout


def base_files(rev):
    names = [p for p in git("ls-tree", "-r", "--name-only", rev, "--", *ROOTS)
             .decode().splitlines() if p.endswith(EXTS)]
    for p in names:
        yield p, git("show", f"{rev}:{p}").decode("utf-8", "replace")


def tree_files(top):
    for root in ROOTS:
        for d, _, fs in os.walk(os.path.join(top, root)):
            for f in sorted(fs):
                if f.endswith(EXTS):
                    full = os.path.join(d, f)
                    with open(full, encoding="utf-8", errors="replace") as h:
                        yield os.path.relpath(full, top), h.read()


def main(argv):
    if len(argv) != 2:
        sys.exit("usage: python3 tools/loc_delta.py <base-rev>")
    rev = argv[1]
    top = git("rev-parse", "--show-toplevel").decode().strip()
    os.chdir(top)
    before, after = tally(base_files(rev)), tally(tree_files(top))
    cols = ("code", "comment", "blank", "files")
    print(f"{'':10}" + "".join(f"{c:>22}" for c in cols))
    for r in ROOTS:
        cells = [f"{b} -> {a} ({a - b:+d})" for b, a in zip(before[r], after[r])]
        print(f"{r:10}" + "".join(f"{c:>22}" for c in cells))


if __name__ == "__main__":
    main(sys.argv)
