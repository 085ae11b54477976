#!/usr/bin/env python3
"""List the queries whose plans differ between two `graft.Probe plan`
dumps.

A dump is the stdout of `graft.Probe plan <dir>`: one `=== <query> ===`
header per query, then that query's formatted plan. Lines before the
first header (sbt's start-up lines) and sbt's closing `[success]` line
belong to no plan. Before comparing, each plan loses the parts that
differ between two runs of the same code:

  - expression ids: `doc_id#9L` reads `doc_id#L`;
  - exchange plan ids, a per-session counter: `[plan_id=47]` reads
    `[plan_id=]`;
  - RDD ids and creation sites: `MapPartitionsRDD[61] at localCheckpoint
    at QueryKit.scala:95` reads `MapPartitionsRDD`;
  - per-process scratch paths: `/tmp/graft-run-20649/graft_wh40655` reads
    `/tmp/graft-run-*/graft_*`;
  - written file names: `part-00001-9dfecc6c-…-c000` reads `part-00001-*`;
  - JVM object identities: `Ops$$$Lambda$7341/0x00007f13…@114c103d` reads
    `Ops$$$Lambda`, `IntVectorSum$@4da20780` reads `IntVectorSum$@`.

Spark's rewrite of several distinct aggregates (the `Expand` under
`countDistinct`s) orders its groups by a hash of expression ids, so two
runs of the same code can print those groups in another order. A query
whose plans differ only by such reordering inside lines (every line
pair holds the same characters) is listed as "reordered", apart from
the queries that differ.

    python3 tools/plan_diff.py before.txt after.txt      # differing names
    python3 tools/plan_diff.py before.txt after.txt -v   # plus a diff each

Prints one line per query that differs, is reordered or is in one dump
only, then a summary line. Exits 0 when both dumps hold the same queries
and no plan differs beyond reordering, 1 otherwise.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^=== (\S+) ===$")
MASKS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(\w*RDD)\[\d+\] at \S+ at [\w$.]+\.scala:\d+"), r"\1"),
    (re.compile(r"graft-run-\d+"), "graft-run-*"),
    (re.compile(r"graft_\w+"), "graft_*"),
    (re.compile(r"part-(\d+)-[0-9a-f-]{36}-c\d+"), r"part-\1-*"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{4,8}\b"), "@"),
]


def normalise(line):
    for pattern, repl in MASKS:
        line = pattern.sub(repl, line)
    return line


def plans(path):
    """{query: [normalised plan lines]} of one dump."""
    out = {}
    current = None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                current = out.setdefault(m.group(1), [])
            elif current is not None and not line.startswith("[success]"):
                current.append(normalise(line))
    return out


def reordering(x, y):
    """True when plans `x` and `y` differ only by order within lines."""
    return len(x) == len(y) and all(
        sorted(p) == sorted(q) for p, q in zip(x, y))


def main(argv):
    args = [a for a in argv if a != "-v"]
    if len(args) != 2:
        sys.exit(__doc__)
    a, b = plans(args[0]), plans(args[1])
    differ = reordered = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in b or name not in a:
            where = args[0] if name in a else args[1]
            print(f"{name}: only in {where}")
            differ += 1
            continue
        if a[name] == b[name]:
            continue
        if reordering(a[name], b[name]):
            print(f"{name}: reordered")
            reordered += 1
        else:
            print(f"{name}: plan differs")
            differ += 1
        if "-v" in argv:
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                a[name], b[name], args[0], args[1], lineterm="", n=2))
    print(f"{len(a.keys() | b.keys())} queries, {differ} differ, "
          f"{reordered} reordered")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
