#!/usr/bin/env python3
"""Diff two graft.ExplainDump output directories query by query.

Usage: python3 scripts/plan_diff.py <dirA> <dirB> [--only q1,q2] [--tree] [--quiet]
                                     [--suffix-a before --suffix-b after]

ExplainDump writes one `<query>_<suffix>.txt` per query; files pair up by
query name, so `l3_cosine_topk_before.txt` in dirA is compared with
`l3_cosine_topk_after.txt` in dirB. When both sides live in one directory
(as under plans/), pick each side with `--suffix-a`/`--suffix-b`. Both
sides are normalized first:

  - expression ids (`#123`, `#123L`) become `#N`,
  - exchange plan ids (`[plan_id=2058]`) become `[plan_id=N]`,
  - lambda variable names (`lambda x_12`) lose their counter,
  - JVM lambda classes (`Multimodal$$$Lambda$6276/0x00007f64b568a000`)
    become `Multimodal$$$Lambda$N`,
  - object identities (`UnsafeArrayData@7a50b5f7`) become `@H`,
  - RDD ids and call sites (`MapPartitionsRDD[82] at localCheckpoint at
    Similarity.scala:723`) become `MapPartitionsRDD[N] at localCheckpoint
    at <site>`: the file that materialized a frame is not part of its plan,
  - paths under a `spark-warehouse` directory (the `Location` of the
    bucketed tables, which lies in the checkout that ran the dump) start
    at `<warehouse>/`.

What is left differs only if the plans do, with one known exception: an
`Expand` orders its distinct aggregates by expression id, so a query with
two distinct counts (l60_normalized_dedup) can list them in either order
from one run to the next; two full dumps of one commit differ there and
nowhere else.

`--tree` compares just the operator tree (the indented block above the
first node's details), which shows operators, joins, join strategies and
exchanges in order.
Prints one line per query (`same` or the number of differing lines, then
a unified diff unless `--quiet`) and exits 1 if any query differs or is
missing on one side.
"""
import argparse
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"\$\$Lambda(\$\d+)?/0x[0-9a-f]+"), "$$Lambda$N"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(RDD\[N\] at \w+ at )[\w$.]+\.scala:\d+"), r"\1<site>"),
    (re.compile(r"(\.scala):\d+"), r"\1:N"),
    (re.compile(r"(file:)?/[^\s,\]]*/spark-warehouse/"), "<warehouse>/"),
]


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text.splitlines()


def operator_tree(lines):
    """The operator tree: lines up to the first blank line after the header."""
    out = []
    for line in lines[1:]:
        if not line.strip():
            break
        out.append(line)
    return out


def by_query(d, suffix):
    files = {}
    for name in sorted(os.listdir(d)):
        if not name.endswith(".txt") or "_" not in name:
            continue
        query, suf = name[:-4].rsplit("_", 1)
        if suffix and suf != suffix:
            continue
        if query in files:
            sys.exit(f"{d}: two dumps of {query}; choose one with --suffix-a/--suffix-b")
        files[query] = os.path.join(d, name)
    return files


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    ap.add_argument("--only", help="comma-separated query names")
    ap.add_argument("--tree", action="store_true", help="compare the operator tree only")
    ap.add_argument("--quiet", action="store_true", help="no diff bodies")
    ap.add_argument("--suffix-a", help="take only <query>_<suffix>.txt from dirA")
    ap.add_argument("--suffix-b", help="take only <query>_<suffix>.txt from dirB")
    args = ap.parse_args()
    a, b = by_query(args.dir_a, args.suffix_a), by_query(args.dir_b, args.suffix_b)
    queries = sorted(set(a) | set(b))
    if args.only:
        queries = [q for q in queries if q in set(args.only.split(","))]
    differing = 0
    for q in queries:
        if q not in a or q not in b:
            print(f"{q}: missing in {'dirA' if q not in a else 'dirB'}")
            differing += 1
            continue
        la = normalize(open(a[q], encoding="utf-8").read())
        lb = normalize(open(b[q], encoding="utf-8").read())
        if args.tree:
            la, lb = operator_tree(la), operator_tree(lb)
        diff = list(difflib.unified_diff(la, lb, os.path.basename(a[q]),
                                         os.path.basename(b[q]), lineterm="", n=1))
        changed = sum(1 for d in diff if d[:1] in "+-" and d[:3] not in ("+++", "---"))
        print(f"{q}: {'same' if not diff else f'{changed} lines differ'}")
        if diff:
            differing += 1
            if not args.quiet:
                print("\n".join(diff))
    print(f"== {len(queries) - differing}/{len(queries)} same ==")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main())
