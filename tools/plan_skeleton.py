#!/usr/bin/env python3
"""Compare the operator trees of two `graft.Trace explain` dumps.

Usage:
  python3 tools/plan_skeleton.py BEFORE.txt AFTER.txt [--details]

Each dump is the stdout of
  tools/run_main.sh graft.Trace explain '<regex>' <sfDir>
which prints one `===== <query> =====` header per query followed by its
formatted physical plan. For every query the tool keeps the operator
tree: the node names in print order, with their tree indentation, and
without the `(n)` operator numbers. With `--details` it also compares
each node's detail block after masking what varies between two runs of
the same plan:
  - expression ids (`doc_id#12L` -> `doc_id#_`) and `plan_id=N`;
  - lambda class names (`$$Lambda$5422/0x...@1821e3f2`) and `@hash`
    object suffixes;
  - `file:line` call-site RDD names (`at Dedup.scala:440`) and RDD ids.

It prints one line per query whose tree (or masked details) differs,
plus the queries present in only one dump, then a summary line. Exit
status: 0 when every query matches, 1 otherwise.
"""
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====$")
# tree lines end in "(n)"; detail headers start with "(n)"
TREE = re.compile(r"^(?P<pre>[\s:|+\-]*)(?P<name>[A-Za-z].*?)\s*\(\d+\)\s*$")
DETAIL = re.compile(r"^\(\d+\) ")
MASKS = [
    (re.compile(r"\$\$Lambda[\w/$]*(@[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"#\d+L?"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"\b\w+\.(scala|java):\d+"), "FILE:_"),
    (re.compile(r"\[\d+\] at "), "[_] at "),
    (re.compile(r"@[0-9a-f]{6,}"), "@_"),
]


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line


def parse(path):
    """query name -> (tree lines, masked detail lines)"""
    queries = {}
    name = None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                queries[name] = ([], [])
                continue
            if name is None or not line.strip():
                continue
            tree, details = queries[name]
            t = TREE.match(line)
            if t and not DETAIL.match(line):
                tree.append(t.group("pre") + t.group("name"))
            else:
                details.append(mask(line))
    return queries


def first_diff(a, b):
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return i, x, y
    i = min(len(a), len(b))
    return i, (a[i] if i < len(a) else "<end>"), (b[i] if i < len(b) else "<end>")


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    details = "--details" in argv
    if len(args) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    before, after = parse(args[0]), parse(args[1])
    differ = 0
    for q in sorted(set(before) | set(after)):
        if q not in before or q not in after:
            print(f"{q}: only in {'after' if q in after else 'before'}")
            differ += 1
            continue
        for part, idx in (("tree", 0), ("details", 1)):
            if part == "details" and not details:
                continue
            a, b = before[q][idx], after[q][idx]
            if a != b:
                i, x, y = first_diff(a, b)
                print(f"{q}: {part} differs at line {i + 1} "
                      f"({len(a)} vs {len(b)} lines)\n  - {x.strip()}\n  + {y.strip()}")
                differ += 1
                break
    n = len(set(before) | set(after))
    print(f"{n} queries compared, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
