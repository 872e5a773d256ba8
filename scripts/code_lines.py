#!/usr/bin/env python3
"""Count Scala code lines: non-blank lines with something outside comments.

A line counts when it holds any non-whitespace character outside `//` line
comments and (nested) `/* */` block comments; string and character literals
are code, so a `//` inside a string does not start a comment. Deleting a
comment therefore never changes the count.

    python3 scripts/code_lines.py src/main                    # working tree
    python3 scripts/code_lines.py --rev HEAD~1 src/main       # a git rev
    python3 scripts/code_lines.py --diff HEAD~1 HEAD src/main # per-file deltas

In `--diff OLD NEW`, NEW may be `worktree` for the uncommitted tree. Run it
inside the git checkout.
"""
import argparse
import os
import subprocess
import sys

WORKTREE = "worktree"


def code_lines(text):
    """Number of lines of `text` carrying code outside comments."""
    lines = set()
    i, n, line, depth = 0, len(text), 0, 0
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
        elif depth:  # inside a block comment (Scala nests them)
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
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':  # a string ending in quotes
                j += 1
            for k in range(i, j):
                if text[k] == "\n":
                    line += 1
                elif not text[k].isspace():
                    lines.add(line)
            i = j
        elif c == '"':
            lines.add(line)
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            i += 1 if i < n and text[i] == '"' else 0
        elif c == "'":
            lines.add(line)
            # a char literal ('a', '\n', 'A', '"'); otherwise a lone quote
            j = i + 1
            if j < n and text[j] == "\\":
                j += 2
                while j < n and text[j] not in "'\n" and j - i < 8:
                    j += 1
            else:
                j += 1
            i = j + 1 if j < n and text[j] == "'" else i + 1
        else:
            if not c.isspace():
                lines.add(line)
            i += 1
    return len(lines)


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True).stdout


def scala_files(rev, path):
    """{file: text} for the Scala files under `path` at `rev`."""
    if rev == WORKTREE:
        out = {}
        for root, _, names in os.walk(path):
            for name in names:
                if name.endswith(".scala"):
                    p = os.path.join(root, name)
                    with open(p, encoding="utf-8") as f:
                        out[os.path.normpath(p)] = f.read()
        return out
    names = git("ls-tree", "-r", "--name-only", rev, "--", path).decode().split("\n")
    return {p: git("show", f"{rev}:{p}").decode("utf-8")
            for p in names if p.endswith(".scala")}


def counts(rev, path):
    return {p: code_lines(t) for p, t in scala_files(rev, path).items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("path")
    ap.add_argument("--rev", default=WORKTREE)
    ap.add_argument("--diff", nargs=2, metavar=("OLD", "NEW"))
    a = ap.parse_args()
    if a.diff:
        old, new = (counts(r, a.path) for r in a.diff)
        for p in sorted(set(old) | set(new)):
            o, m = old.get(p, 0), new.get(p, 0)
            if o != m:
                print(f"{m - o:+7d}  {o:6d} -> {m:6d}  {p}")
        to, tn = sum(old.values()), sum(new.values())
        print(f"{tn - to:+7d}  {to:6d} -> {tn:6d}  total ({a.path}, {a.diff[0]} -> {a.diff[1]})")
    else:
        c = counts(a.rev, a.path)
        for p in sorted(c):
            print(f"{c[p]:7d}  {p}")
        print(f"{sum(c.values()):7d}  total ({a.path} at {a.rev})")


if __name__ == "__main__":
    sys.exit(main())
