#!/usr/bin/env python3
"""Code lines per package of the main source, at a base revision and now.

    python3 scripts/loc.py [--base REV]

Counts the Scala files under src/main/scala/graft/<package>/ (files
directly under graft/ count as "(top)") at REV (default 34f3b8a) and in
the working tree. A code line is non-blank and does not start, after
leading whitespace, with //, /**, * or */. Needs only git and the
Python standard library; run it from anywhere inside the repository.
"""
import argparse
import os
import subprocess
import sys

ROOT = "src/main/scala/graft/"
COMMENT = ("//", "/**", "*", "*/")


def code_lines(text):
    return sum(1 for line in text.splitlines()
               if line.strip() and not line.strip().startswith(COMMENT))


def package(path):
    rest = path[len(ROOT):].split("/")
    return rest[0] if len(rest) > 1 else "(top)"


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True).stdout


def at_revision(rev):
    counts = {}
    names = git("ls-tree", "-r", "--name-only", rev, "--", ROOT).decode().split("\n")
    for path in filter(lambda p: p.endswith(".scala"), names):
        text = git("show", f"{rev}:{path}").decode("utf-8", "replace")
        counts[package(path)] = counts.get(package(path), 0) + code_lines(text)
    return counts


def in_tree():
    counts = {}
    for base, _, files in os.walk(ROOT):
        for name in filter(lambda f: f.endswith(".scala"), files):
            path = os.path.join(base, name)
            with open(path, encoding="utf-8", errors="replace") as f:
                counts[package(path)] = counts.get(package(path), 0) + code_lines(f.read())
    return counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", default="34f3b8a", help="base revision (default 34f3b8a)")
    args = ap.parse_args()
    os.chdir(git("rev-parse", "--show-toplevel").decode().strip())
    before, now = at_revision(args.base), in_tree()
    print(f"{'package':<12}{args.base:>10}{'tree':>10}{'delta':>10}")
    for p in sorted(set(before) | set(now)):
        b, n = before.get(p, 0), now.get(p, 0)
        print(f"{p:<12}{b:>10}{n:>10}{n - b:>+10}")
    b, n = sum(before.values()), sum(now.values())
    print(f"{'total':<12}{b:>10}{n:>10}{n - b:>+10}")


if __name__ == "__main__":
    sys.exit(main())
