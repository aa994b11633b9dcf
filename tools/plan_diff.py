#!/usr/bin/env python3
"""Diff the per-round plans of two graft.PlanDump output directories.

    python3 tools/plan_diff.py BEFORE_DIR AFTER_DIR [QUERY ...]

Both directories hold the `<query><suffix>.txt` files that
`runMain graft.PlanDump <names> <dir> <suffix>` writes: one
`===== iterCheckpoint #n =====` section per materialization and a
`===== <query>: returned plan =====` section. Run both sides with the
same suffix into two directories: files are paired by name, and a QUERY
argument names a file without `.txt` (e.g. `q_bfs_d`); without QUERY
arguments every file of either directory is compared.

Before comparing, the run-specific parts of each section are masked:
expression ids (`#123`), observation names (the UUID a `CollectMetrics`
node carries), RDD ids (`MapPartitionsRDD[14]`), exchange `plan_id`s,
source positions (`IterCheckpoint.scala:48`) and the class and identity
hash of a lambda argument (`LocalGraph$$$Lambda$5654/0x…@15d24cb4`, which
change from one JVM to the next). Any other difference — a
section more or less, or a changed line — is printed as a unified diff.

Every paired file also prints its number of `iterCheckpoint #n` sections
on each side, `<file>: N iterCheckpoint before, M after` — one per
materialization, so a per-round job added or saved shows there even when
the plans differ too much to read.

Exit status: 0 when every paired query matches, 1 on any difference or
on a query present on one side only, 2 on bad arguments.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"), "<obs>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"\.scala:\d+"), ".scala:_"),
    (re.compile(r"\$Lambda\$[\w/]+@[0-9a-f]+"), "$Lambda$_"),
]
# section headers PlanDump writes; explain's own `===== Subqueries =====`
# stays inside its section
HEADER = re.compile(r"^===== (iterCheckpoint #\d+|.*: returned plan) =====$")


def mask(line):
    for pattern, repl in MASKS:
        line = pattern.sub(repl, line)
    return line


def sections(path):
    """[(header, [masked lines])] in file order."""
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f.read().splitlines():
            m = HEADER.match(line)
            if m:
                out.append((m.group(1), []))
            elif out:
                out[-1][1].append(mask(line))
            elif line.strip():
                out.append(("(preamble)", [mask(line)]))
    return out


def dumps(d):
    """file name without `.txt` -> path, for every dump file in `d`."""
    return {name[: -len(".txt")]: os.path.join(d, name)
            for name in sorted(os.listdir(d)) if name.endswith(".txt")}


def diff_query(query, before, after):
    """Printed differences between two dumps of one query; True if equal."""
    a, b = sections(before), sections(after)
    def checkpoints(secs):
        return sum(h.startswith("iterCheckpoint #") for h, _ in secs)
    print(f"{query}: {checkpoints(a)} iterCheckpoint before, {checkpoints(b)} after")
    same = True
    if len(a) != len(b):
        print(f"{query}: {len(a)} sections before, {len(b)} after")
        same = False
    for i, ((ha, la), (hb, lb)) in enumerate(zip(a, b), 1):
        if ha != hb or la != lb:
            same = False
            print(f"{query}: section {i} differs ({ha!r} vs {hb!r})")
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(
                    la, lb, f"{before} [{ha}]", f"{after} [{hb}]", lineterm="", n=2))
    return same


def main(argv):
    if len(argv) < 3 or not all(os.path.isdir(d) for d in argv[1:3]):
        print(__doc__, file=sys.stderr)
        return 2
    before, after = dumps(argv[1]), dumps(argv[2])
    queries = argv[3:] or sorted(set(before) | set(after))
    ok = True
    for q in queries:
        if q not in before or q not in after:
            print(f"{q}: missing in {'before' if q not in before else 'after'}")
            ok = False
        elif diff_query(q, before[q], after[q]):
            print(f"{q}: same")
        else:
            ok = False
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
