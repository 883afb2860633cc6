#!/usr/bin/env python3
"""Compare the physical-plan operators of two `graft.Explain` outputs.

Usage: scripts/plan_ops.py PARENT.txt CHANGE.txt

Each input is the stdout of `scripts/run.sh graft.Explain <queries...>`:
one `===== <query> =====` header per query followed by its formatted
physical plan. For every query the script compares the numbered operator
lines of the plan details (`(n) Name`, e.g. `(12) ObjectHashAggregate`),
in order. It prints each query whose operators differ, or that is present
on one side only, with a diff of its operator lines, and exits 1 if there
is any; otherwise it prints how many queries matched and exits 0.

Expression ids, attribute lists and join build sides are not compared:
only which operators run, and in which order.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====\s*$")
OPERATOR = re.compile(r"^\((\d+)\) (.+?)\s*$")


def operators(path):
    """{query: [operator line, ...]} from one Explain output."""
    plans, current = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            m = HEADER.match(line)
            if m:
                current = plans.setdefault(m.group(1), [])
                continue
            m = OPERATOR.match(line)
            if m and current is not None:
                current.append(f"({m.group(1)}) {m.group(2)}")
    return plans


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    parent, change = operators(argv[1]), operators(argv[2])
    differ = []
    for q in sorted(set(parent) | set(change)):
        if q not in change or q not in parent:
            side = "parent" if q in parent else "change"
            differ.append(q)
            print(f"{q}: only in {side}")
            continue
        if parent[q] != change[q]:
            differ.append(q)
            print(f"{q}: operators differ "
                  f"({len(parent[q])} -> {len(change[q])})")
            for line in difflib.unified_diff(parent[q], change[q], "parent",
                                             "change", n=1, lineterm=""):
                print("  " + line)
    same = len(set(parent) | set(change)) - len(differ)
    print(f"{same} queries with identical operators, {len(differ)} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
