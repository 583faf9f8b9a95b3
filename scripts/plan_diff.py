#!/usr/bin/env python3
"""Compare the static plans `graft.Explain` printed for a change against
one or more runs of its parent, entry by entry.

    python3 scripts/plan_diff.py CHANGE_LOG PARENT_LOG [PARENT_LOG ...]

Each log is the stdout of `sbt -batch "runMain graft.Explain"`. Run-to-run
ids are normalised first: expression ids (`#123`), lambda class names,
object hashes, plan and RDD ids, temp-dir suffixes and codegen ids.

An entry matches when its plan equals the plan of the same entry in at
least one parent run, line by line, where two lines also count as equal
when they hold the same characters in another order once digits are
dropped. That is the parent's own noise: Spark orders the groups of a
distinct-aggregate `Expand` (and the keys after it) by a hash, so they
permute within a line from run to run. With AQE off the same order can
decide exchange reuse, which changes how many lines an entry has
(q501); such an entry matches only when some parent run shows the same
shape, so pass several parent runs.

Prints the header count and `failed:` lines of every log, the entries
that matched only up to the in-line permutation, and the entries that
differ (with the first differing line); exits 1 if any entry differs or
is missing from one side.
"""
import re
import sys

NORMALISE = [
    (re.compile(r"#[0-9]+"), "#N"),
    (re.compile(r"\$Lambda\$?[0-9]*/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{6,8}\b"), "@H"),
    (re.compile(r"\[plan_id=[0-9]+\]"), "[plan_id=N]"),
    (re.compile(r"RDD\[[0-9]+\]"), "RDD[N]"),
    (re.compile(r"_[0-9]{12,}"), "_T"),
    (re.compile(r"(codegen id : |WholeStageCodegen \()[0-9]+"), r"\1N"),
]
HEADER = re.compile(r"^==== (\S+) ====$")


def normalise(line):
    for pattern, repl in NORMALISE:
        line = pattern.sub(repl, line)
    return line


def entries(path):
    """{entry: [normalised plan lines]} from one Explain log."""
    plans, current = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                current = m.group(1)
                plans[current] = []
            elif current is not None and not line.startswith("[success]"):
                plans[current].append(normalise(line))
    for lines in plans.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return plans


def permuted(a, b):
    """Equal up to the order of characters, digits dropped."""
    def key(s):
        return sorted(c for c in s if not c.isdigit())
    return key(a) == key(b)


def compare(change, parent):
    """'same', 'permuted', or the index of the first line that differs."""
    if change == parent:
        return "same"
    for i, (c, p) in enumerate(zip(change, parent)):
        if c != p and not permuted(c, p):
            return i
    if len(change) != len(parent):
        return min(len(change), len(parent))
    return "permuted"


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    change, parents = entries(argv[1]), [entries(p) for p in argv[2:]]
    for path, plans in zip(argv[1:], [change] + parents):
        failed = sorted(n for n, ls in plans.items()
                        if any(l.startswith("failed:") for l in ls))
        print(f"{path}: {len(plans)} headers, failed: "
              f"{', '.join(failed) or 'none'}")
    names = set(change).union(*parents)
    missing = sorted(n for n in names
                     if n not in change or any(n not in p for p in parents))
    noise, differ = [], []
    for name in sorted(set(change) - set(missing)):
        results = [compare(change[name], p[name]) for p in parents]
        if "same" in results:
            continue
        if "permuted" in results:
            noise.append(name)
            continue
        i = results[0]
        first = parents[0][name]
        differ.append(
            f"{name} (line {i + 1})\n"
            f"    parent: {first[i] if i < len(first) else '<end>'}\n"
            f"    change: "
            f"{change[name][i] if i < len(change[name]) else '<end>'}")
    print(f"matched up to the in-line Expand permutation: "
          f"{', '.join(noise) or 'none'}")
    if missing:
        print(f"missing from a log: {', '.join(missing)}")
    print(f"differ: {len(differ)}")
    for d in differ:
        print(f"  {d}")
    sys.exit(1 if differ or missing else 0)


if __name__ == "__main__":
    main(sys.argv)
