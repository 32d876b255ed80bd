#!/usr/bin/env python3
"""Line counts of src/main and src/test: total lines and code lines, per
file and in total, for the work tree and, given a git rev, for that rev
and the difference.

A code line is a non-blank line that is not comment-only: after
stripping, it does not start with `//`, `/*` or `*` (the rule
KernelStructureSpec's source scan uses).

    python3 tools/loc.py                  # the work tree, every file
    python3 tools/loc.py HEAD~1           # against a rev: changed files
    python3 tools/loc.py HEAD~1 --files   # against a rev: every file
"""
import os
import subprocess
import sys

ROOTS = ("src/main", "src/test")
EXTS = (".scala", ".java")


def count(text):
    lines = text.splitlines()
    code = sum(1 for l in lines
               if l.strip() and not l.strip().startswith(("//", "/*", "*")))
    return len(lines), code


def work_tree():
    out = {}
    for root in ROOTS:
        for d, _, names in os.walk(root):
            for n in names:
                if n.endswith(EXTS):
                    p = os.path.join(d, n)
                    with open(p, encoding="utf-8") as f:
                        out[p] = count(f.read())
    return out


def at_rev(rev):
    names = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, *ROOTS],
                           check=True, capture_output=True, text=True).stdout.split()
    out = {}
    for p in names:
        if p.endswith(EXTS):
            text = subprocess.run(["git", "show", f"{rev}:{p}"], check=True,
                                  capture_output=True, text=True).stdout
            out[p] = count(text)
    return out


def totals(counts, root):
    sel = [v for p, v in counts.items() if p.startswith(root + "/")]
    return sum(v[0] for v in sel), sum(v[1] for v in sel)


def main(argv):
    files = "--files" in argv
    args = [a for a in argv if a != "--files"]
    rev = args[0] if args else None
    now = work_tree()
    old = at_rev(rev) if rev else None
    if old is None:
        for p in sorted(now):
            print(f"{p:70s} {now[p][0]:7d} {now[p][1]:7d}")
        for root in ROOTS:
            t = totals(now, root)
            print(f"{root + ' (total)':70s} {t[0]:7d} {t[1]:7d}")
        return
    print(f"{'path':70s} {'lines':>7s} {'code':>7s} {rev + ' lines':>14s} {'code':>7s} "
          f"{'Δlines':>7s} {'Δcode':>7s}")
    def row(name, a, b):
        print(f"{name:70s} {a[0]:7d} {a[1]:7d} {b[0]:14d} {b[1]:7d} "
              f"{a[0] - b[0]:+7d} {a[1] - b[1]:+7d}")
    for p in sorted(set(now) | set(old)):
        a, b = now.get(p, (0, 0)), old.get(p, (0, 0))
        if files or a != b:
            row(p, a, b)
    for root in ROOTS:
        row(root + " (total)", totals(now, root), totals(old, root))


if __name__ == "__main__":
    main(sys.argv[1:])
