#!/usr/bin/env python3
"""Line counts for the non-test sources under src/main.

Prints, per file and in total, the physical line count and the count of
non-blank, non-comment lines. A line is a comment when, stripped of
leading whitespace, it starts with `//`, `/**` or `*` (Scaladoc bodies
and closers). Lines of interpolated SQL start with `|` and count as code.

Usage:
    python3 tools/loc.py [ROOT] [--files PATH ...]

ROOT defaults to the repo this script lives in; `--files` restricts the
per-file rows to the given paths (relative to ROOT), while the total
still covers all of src/main.
"""
import argparse
import os
import sys

COMMENT_PREFIXES = ("//", "/**", "*")


def count(path):
    """(physical, code) line counts of one file."""
    physical = code = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            physical += 1
            s = line.strip()
            if s and not s.startswith(COMMENT_PREFIXES):
                code += 1
    return physical, code


def sources(root):
    main = os.path.join(root, "src", "main")
    for d, _, names in os.walk(main):
        for n in sorted(names):
            if n.endswith((".scala", ".java")):
                yield os.path.relpath(os.path.join(d, n), root)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?",
                    default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--files", nargs="*", default=None)
    args = ap.parse_args()
    rows = sorted((p, *count(os.path.join(args.root, p))) for p in sources(args.root))
    if not rows:
        sys.exit(f"no sources under {args.root}/src/main")
    shown = rows if args.files is None else [r for r in rows if r[0] in set(args.files)]
    print(f"{'physical':>8} {'code':>6}  file")
    for p, phys, code in shown:
        print(f"{phys:>8} {code:>6}  {p}")
    print(f"{sum(r[1] for r in rows):>8} {sum(r[2] for r in rows):>6}  total ({len(rows)} files)")


if __name__ == "__main__":
    main()
