#!/usr/bin/env python3
"""Compare before/after plan dumps with the run-specific noise masked.

Usage: python3 tools/plan_diff.py <dir>

<dir> holds `<gate>_before.txt` / `<gate>_after.txt` pairs written by
`graft.PlansDump`. Expression ids (`#123`), `plan_id=N`, `/tmp/...`
paths, JVM lambda class names (`$$Lambda$6537/0x...@3d65`, printed
for typed operators such as mapPartitions) and the numbered variables of
higher-order SQL functions (`lambda x_59L`) and RDD ids
(`MapPartitionsRDD[1767]`), both numbered per session in creation order,
change from run to run, so they are masked before the
pair is compared. Every differing pair prints
a unified diff of the masked text. Exits 1 if any pair differs or a dump
has no partner, 0 otherwise.
"""
import difflib
import pathlib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/..."),
    (re.compile(r"\$\$Lambda\S*"), "$$Lambda"),
    (re.compile(r"\b(lambda \w+?)_\d+L?\b"), r"\1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
]


def masked(path):
    text = path.read_text(encoding="utf-8")
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    root = pathlib.Path(argv[1])
    dumps = {}
    for f in sorted(root.glob("*_before.txt")) + sorted(root.glob("*_after.txt")):
        gate, side = f.stem.rsplit("_", 1)
        dumps.setdefault(gate, {})[side] = f
    if not dumps:
        print(f"no <gate>_before/after.txt dumps in {root}", file=sys.stderr)
        return 2
    differing = []
    for gate, sides in sorted(dumps.items()):
        if set(sides) != {"before", "after"}:
            print(f"{gate}: only {', '.join(sides)} present")
            differing.append(gate)
            continue
        before, after = masked(sides["before"]), masked(sides["after"])
        if before == after:
            print(f"{gate}: identical")
            continue
        differing.append(gate)
        print(f"{gate}: DIFFERS")
        sys.stdout.writelines(difflib.unified_diff(
            before, after, str(sides["before"]), str(sides["after"])))
    print(f"{len(dumps) - len(differing)}/{len(dumps)} pairs identical")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
