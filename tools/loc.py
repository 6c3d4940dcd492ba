#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of Scala under src/main/scala.

A line counts unless it is blank or its first non-blank characters are
`//`, `/*` or `*` (a line comment, a block-comment opener, or a
scaladoc/block continuation). Code after a comment opener on the same
line, and comment text after code, do not change a line's status.

Prints two counts: all of src/main/scala, and the same without
SparkEntry.scala (the registry plus the DuckDB oracle catalogue, which
the line budget in ROADMAP.md excludes).

Usage: python3 tools/loc.py [--repo DIR]
"""
import argparse
import os
import pathlib

COMMENT_PREFIXES = ("//", "/*", "*")
EXCLUDED = "SparkEntry.scala"


def code_lines(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(COMMENT_PREFIXES):
                n += 1
    return n


def count(repo):
    root = pathlib.Path(repo) / "src" / "main" / "scala"
    if not root.is_dir():
        raise SystemExit(f"no src/main/scala under {repo}")
    total = outside = 0
    for path in sorted(root.rglob("*.scala")):
        n = code_lines(path)
        total += n
        if path.name != EXCLUDED:
            outside += n
    return total, outside


def main():
    here = pathlib.Path(__file__).resolve().parent.parent
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--repo", default=str(here),
                    help="checkout to count (default: the one holding this script)")
    a = ap.parse_args()
    total, outside = count(os.path.abspath(a.repo))
    print(f"src/main/scala: {total:,}")
    print(f"src/main/scala without {EXCLUDED}: {outside:,}")


if __name__ == "__main__":
    main()
