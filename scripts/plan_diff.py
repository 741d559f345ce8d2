#!/usr/bin/env python3
"""Compare the formatted EXPLAIN plans of two `graft.Inspect` output dirs.

Every `<name>.plan.txt` present in either directory is compared after
masking what differs between two runs of the same plan: expression ids
(`#123`), plan ids (`plan_id=7`), RDD ids (`MapPartitionsRDD[42]`), source
line numbers (`SparkEntry.scala:2188`) and the run-scoped scratch path
(`/tmp/graft_<tag>_local-<app id>`, and the `_local_<app id>` suffix of
run-scoped table names such as q_bucketed_join's). Prints `identical` or `differs` per
query (`missing` when one side has no plan) and exits 1 on any difference,
printing the first differing masked lines.

Usage: python3 scripts/plan_diff.py <dirA> <dirB>
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"local([-_])\d+"), r"local\1N"),
]


def masked(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text.splitlines()


def plans(d):
    return {f[: -len(".plan.txt")] for f in os.listdir(d)
            if f.endswith(".plan.txt")}


def main(a, b):
    names = sorted(plans(a) | plans(b))
    if not names:
        print(f"no *.plan.txt in {a} or {b}")
        return 1
    bad = 0
    for n in names:
        pa, pb = (os.path.join(d, n + ".plan.txt") for d in (a, b))
        if not (os.path.exists(pa) and os.path.exists(pb)):
            print(f"{n}: missing")
            bad += 1
            continue
        la, lb = masked(pa), masked(pb)
        if la == lb:
            print(f"{n}: identical")
            continue
        print(f"{n}: differs")
        diff = difflib.unified_diff(la, lb, pa, pb, lineterm="", n=0)
        for line in list(diff)[:12]:
            print("    " + line)
        bad += 1
    print(f"{len(names) - bad} identical, {bad} differ or missing")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
