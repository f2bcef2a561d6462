#!/usr/bin/env python3
"""Count code, comment and blank lines of the Scala sources under src/main.

Usage: python3 tools/loc.py [--root DIR] [--total]

Prints one row per file (code, comment, blank, path) and a total row. A line
is blank when it holds only whitespace, a comment line when everything on it
outside whitespace belongs to a `//` or `/* ... */` comment, and a code line
otherwise (code followed by a trailing comment counts as code). String
literals, triple-quoted strings and character literals are skipped, so a
`//` inside "s3://bucket" does not start a comment. Nested block comments
are tracked, as scalac does.
"""
import argparse
import os
import sys


def classify(text):
    """Yield 'code', 'comment' or 'blank' for each line of `text`."""
    depth = 0          # block-comment nesting
    in_str = None      # None, '"' or '"""'
    for line in text.split("\n"):
        has_code = False
        has_comment = depth > 0
        i, n = 0, len(line)
        while i < n:
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
                continue
            if in_str == '"""':
                has_code = True
                if line.startswith('"""', i):
                    in_str = None
                    i += 3
                else:
                    i += 1
                continue
            if in_str == '"':
                has_code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
                continue
            if c.isspace():
                i += 1
            elif line.startswith("//", i):
                has_comment = True
                break
            elif line.startswith("/*", i):
                has_comment = True
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_str = '"""'
                i += 3
            elif c == '"':
                has_code = True
                in_str = '"'
                i += 1
            elif c == "'" and i + 2 < n and line[i + 1] == "\\":
                has_code = True
                end = line.find("'", i + 2)
                i = n if end < 0 else end + 1
            elif c == "'" and i + 2 < n and line[i + 2] == "'":
                has_code = True
                i += 3
            else:
                has_code = True
                i += 1
        if in_str == '"':  # an unterminated single-quoted string ends here
            in_str = None
        if has_code:
            yield "code"
        elif has_comment:
            yield "comment"
        else:
            yield "blank"


def count(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    if text.endswith("\n"):
        text = text[:-1]
    totals = {"code": 0, "comment": 0, "blank": 0}
    for kind in classify(text):
        totals[kind] += 1
    return totals


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", default=os.path.join(os.path.dirname(
        os.path.abspath(__file__)), ".."), help="repository root")
    ap.add_argument("--total", action="store_true",
                    help="print only the total row")
    args = ap.parse_args()
    src = os.path.join(args.root, "src", "main")
    rows = []
    for dirpath, _, names in os.walk(src):
        for name in names:
            if name.endswith(".scala"):
                p = os.path.join(dirpath, name)
                rows.append((os.path.relpath(p, args.root), count(p)))
    if not rows:
        print(f"no Scala sources under {src}", file=sys.stderr)
        return 1
    rows.sort()
    total = {"code": 0, "comment": 0, "blank": 0}
    if not args.total:
        print(f"{'code':>7} {'comment':>7} {'blank':>7}  file")
    for rel, t in rows:
        for k in total:
            total[k] += t[k]
        if not args.total:
            print(f"{t['code']:>7} {t['comment']:>7} {t['blank']:>7}  {rel}")
    print(f"{total['code']:>7} {total['comment']:>7} {total['blank']:>7}  "
          f"total ({len(rows)} files)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
