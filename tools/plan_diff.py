#!/usr/bin/env python3
"""Compare two graft.PlanDump output directories, ignoring run-local ids.

Usage: tools/plan_diff.py [--mask-internal] <dirA> <dirB>

Each directory holds `<query>_<suffix>.txt` files written by
`runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...`; when every
file in a directory shares one suffix it is dropped, so the two sides may
use different suffixes (`parent`, `change`). Before comparing, the text
of each plan is masked: expression ids (`#123`), plan ids (`plan_id=7`),
RDD ids (`MapPartitionsRDD[44]`), lambda class names (`$$Lambda...`),
object hash codes (`@1a2b3c`) and source line numbers (`Stats.scala:812`)
all vary from run to run without any change to the plan.

With `--mask-internal`, internal column names (`__name`) are masked as
well: a refactor that only renames internal aliases then compares equal,
while any change to an operator, exchange or expression still shows.

Prints one line per query that differs (with the first differing lines),
is missing on one side, then a summary line. Exits 1 on any difference.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$\$Lambda[^\s,()\[\]]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"(\.(?:scala|java)):\d+"), r"\1:N"),
]
INTERNAL = (re.compile(r"\b__\w+"), "__*")


def mask(text, internal):
    masks = MASKS + [INTERNAL] if internal else MASKS
    for pattern, repl in masks:
        text = pattern.sub(repl, text)
    return text


def load(directory):
    """Map query name -> plan text for one PlanDump directory."""
    names = sorted(f[:-len(".txt")] for f in os.listdir(directory)
                   if f.endswith(".txt"))
    strip = (len({n.rsplit("_", 1)[-1] for n in names}) == 1
             and all("_" in n for n in names))
    plans = {}
    for n in names:
        with open(os.path.join(directory, n + ".txt")) as fh:
            plans[n.rsplit("_", 1)[0] if strip else n] = fh.read()
    return plans


def main(argv):
    internal = "--mask-internal" in argv
    args = [a for a in argv if a != "--mask-internal"]
    if len(args) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = load(args[0]), load(args[1])
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"{'REMOVED' if name in a else 'ADDED'} {name}")
            bad += 1
            continue
        la = mask(a[name], internal).splitlines()
        lb = mask(b[name], internal).splitlines()
        if la != lb:
            bad += 1
            diff = [d for d in difflib.unified_diff(la, lb, lineterm="", n=0)
                    if d[:1] in "+-" and d[:3] not in ("+++", "---")]
            print(f"DIFFER {name}")
            for d in diff[:6]:
                print(f"    {d[:200]}")
    print(f"{len(a)} vs {len(b)} queries, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
