#!/usr/bin/env python3
"""Count repeated code windows per source file.

Usage:
    python3 scripts/clone_scan.py [ROOT ...] [--window N] [--top K] [--show FILE]

Every `.scala` file under each ROOT (default: src/main) is normalised:
comments (`//`, `/* */`, scaladoc) and blank lines are dropped, string
and number literals become placeholders, and each line is stripped of
surrounding whitespace. A window is N consecutive normalised lines
(default 6). A window is *repeated* when the same N lines occur at
another place in the scanned files (the same file included). The report
lists, per file, how many of its windows are repeated, largest first,
and the total. `--show FILE` prints the repeated windows of that file
with the other places each one occurs.
"""
import argparse
import collections
import os
import re
import sys

STRING = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"')
CHAR = re.compile(r"'(?:\\.|[^'\\\n])'")
NUMBER = re.compile(r"\b\d+(?:\.\d+)?(?:[eE][+-]?\d+)?[lLdDfF]?\b")


def strip_comments(text):
    """Drop `//` and `/* */` comments, keeping string literals and line
    breaks (so line numbers still match the file)."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(text[i:j])
            i = j
        elif text[i] == '"':
            m = STRING.match(text, i)
            j = m.end() if m else i + 1
            out.append(text[i:j])
            i = j
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * text.count("\n", i, j))
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def normalised_lines(path):
    """(line number, normalised text) of every non-blank code line."""
    with open(path, encoding="utf-8") as f:
        code = strip_comments(f.read())
    code = STRING.sub(lambda m: '"S"' + "\n" * m.group(0).count("\n"), code)
    code = CHAR.sub("'C'", code)
    lines = []
    for no, line in enumerate(code.split("\n"), 1):
        line = NUMBER.sub("0", line).strip()
        if line:
            lines.append((no, line))
    return lines


def sources(roots):
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for name in sorted(files):
                if name.endswith(".scala"):
                    yield os.path.join(dirpath, name)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("roots", nargs="*", default=["src/main"])
    ap.add_argument("--window", type=int, default=6)
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--show", metavar="FILE")
    args = ap.parse_args()

    where = collections.defaultdict(list)  # window text -> [(file, line)]
    per_file = {}
    for path in sources(args.roots):
        lines = normalised_lines(path)
        keys = []
        for i in range(len(lines) - args.window + 1):
            key = "\n".join(t for _, t in lines[i:i + args.window])
            where[key].append((path, lines[i][0]))
            keys.append(key)
        per_file[path] = keys
    if not per_file:
        sys.exit(f"no .scala files under {args.roots}")

    counts = {p: sum(len(where[k]) > 1 for k in keys)
              for p, keys in per_file.items()}
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    print(f"{args.window}-line repeated windows per file "
          f"({len(per_file)} files)")
    for path, c in ranked[:args.top]:
        if c:
            print(f"{c:6d}  {path}")
    print(f"{sum(counts.values()):6d}  total")

    if args.show:
        shown = [p for p in per_file if p.endswith(args.show)]
        if not shown:
            sys.exit(f"--show: no scanned file ends with {args.show}")
        for path in shown:
            seen = set()
            for key in per_file[path]:
                places = where[key]
                if len(places) < 2 or key in seen:
                    continue
                seen.add(key)
                first = next(ln for p, ln in places if p == path)
                print(f"\n{path}:{first} also at " + ", ".join(
                    f"{os.path.basename(p)}:{ln}" for p, ln in places
                    if (p, ln) != (path, first)))
                print("    " + key.replace("\n", "\n    "))


if __name__ == "__main__":
    main()
