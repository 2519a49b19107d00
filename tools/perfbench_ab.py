#!/usr/bin/env python3
"""Interleaved parent/change pairs of the perfbench workloads.

Usage:
  python3 tools/perfbench_ab.py <parent> <change> [--pairs 10]
      [--workloads etl_relational,stream_ingest] [--trace] [--out PREFIX]

<parent> and <change> are git revisions; `.` is the working tree as it is
(tracked and untracked, non-ignored files). Each revision is exported with
`git archive` (the working tree: copied) into its own directory under a
fresh temporary directory, and every run goes through that checkout's
own, unchanged `perfbench/run.py`, which builds it. Each run lasts the
run_seconds that BENCHMARK.json sets.

Pair i runs seed i on both sides; odd pairs run the parent first and even
pairs the change first (A,B,B,A,...), so a drift over the session falls
on both sides alike. `--trace` adds one `--trace 1` run per side and
workload (seed 1) for the per-layer metrics.

Writes PREFIX.json (every run's JSON line, plus per metric: each side's
median and quartiles, change/parent of the medians, the pairs the change
won, and for end-to-end metrics the bound check from BENCHMARK.json) and
PREFIX.md (the same as tables, regressions included). PREFIX defaults to
perfbench_ab next to the checkouts.

A gain is "claimable" when there are at least ten pairs, the change wins
at least nine tenths of them (ties count for neither side), the medians
differ, in the better direction, by more than the parent's interquartile
range, and the change's runs fail no more operations in total than the
parent's. Traced runs are single runs: their table compares counts and
layer times, never claims.
"""
import argparse
import json
import os
import pathlib
import statistics
import subprocess
import sys
import tempfile

REPO = pathlib.Path(__file__).resolve().parent.parent


def export(rev, dest):
    dest.mkdir(parents=True)
    if rev == ".":
        def ls(*flags):
            return subprocess.run(["git", "ls-files", "-z", *flags], cwd=REPO, check=True,
                                  capture_output=True).stdout.split(b"\0")
        # a path deleted from the working tree but not from the index is
        # still --cached; tar would abort on it with "Cannot stat"
        deleted = set(ls("--deleted"))
        files = b"\0".join(f for f in ls("--cached", "--others", "--exclude-standard")
                           if f not in deleted)
        tar = subprocess.run(["tar", "-c", "--null", "-T", "-", "-f", "-"], cwd=REPO,
                             input=files, check=True, capture_output=True).stdout
    else:
        tar = subprocess.run(["git", "archive", rev], cwd=REPO, check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-f", "-"], cwd=dest, input=tar, check=True)


def run(checkout, workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-3000:])
        sys.exit(f"perfbench run failed in {checkout}: {workload} seed {seed}")
    rep = json.loads(lines[-1])
    rep["seed"] = seed
    return rep


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def compare(a_runs, b_runs, spec):
    """per metric: medians, quartiles, B/A, pairs won by B, bound check"""
    out = {}
    fails_no_more = sum(r["failed"] for r in b_runs) <= sum(r["failed"] for r in a_runs)
    names = sorted({n for r in a_runs + b_runs for n in r["metrics"]})
    for name in names:
        pairs = [(a["metrics"][name]["value"], b["metrics"][name]["value"])
                 for a, b in zip(a_runs, b_runs)
                 if name in a["metrics"] and name in b["metrics"]]
        if not pairs:
            continue
        unit = (a_runs[0]["metrics"].get(name) or b_runs[0]["metrics"][name])["unit"]
        better = spec.get(name, {}).get("better", "lower")
        sign = 1 if better == "higher" else -1
        a, b = [p[0] for p in pairs], [p[1] for p in pairs]
        qa, qb = quartiles(a), quartiles(b)
        wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
        losses = sum(1 for x, y in pairs if sign * (y - x) < 0)
        gain = sign * (qb[1] - qa[1])
        row = {
            "unit": unit, "better": better, "pairs": len(pairs),
            "parent": {"median": qa[1], "q1": qa[0], "q3": qa[2], "runs": a},
            "change": {"median": qb[1], "q1": qb[0], "q3": qb[2], "runs": b},
            "change_over_parent": (qb[1] / qa[1]) if qa[1] else None,
            "change_wins": wins, "change_losses": losses,
            "claimable": len(pairs) >= 10 and wins >= 0.9 * len(pairs)
                         and gain > (qa[2] - qa[0]) and fails_no_more,
        }
        bound = spec.get(name, {}).get("bound")
        if bound is not None:
            worse = -gain / abs(qa[1]) if qa[1] else 0.0
            row["bound"] = bound
            row["worse_by"] = worse
            row["within_bound"] = worse <= bound
        out[name] = row
    return out


def fmt(x):
    if x is None:
        return "-"
    if isinstance(x, float):
        return f"{x:.4g}"
    return str(x)


def markdown(report):
    lines = [f"# perfbench A/B: parent `{report['parent']}` vs change `{report['change']}`", "",
             f"{report['pairs']} interleaved pairs per workload, seeds {report['seeds']}, "
             f"{report['seconds']} s per run. Medians with [q1, q3]; change/parent of the "
             "medians; pairs the change won / lost.", ""]
    for w, res in report["workloads"].items():
        for kind in ("timed", "traced"):
            table = res.get(kind)
            if not table:
                continue
            lines += [f"## {w} ({kind})", "",
                      "| metric | unit | better | parent | change | change/parent | won/lost "
                      "| claimable | bound |",
                      "|---|---|---|---|---|---|---|---|---|"]
            for name, m in table.items():
                p, c = m["parent"], m["change"]
                bound = "-" if "bound" not in m else (
                    f"{'ok' if m['within_bound'] else 'REGRESSED'} (median "
                    + (f"{fmt(m['worse_by'] * 100)} % worse" if m["worse_by"] > 0 else "not worse")
                    + f", bound {fmt(m['bound'] * 100)} %)")
                lines.append(
                    f"| {name} | {m['unit']} | {m['better']} "
                    f"| {fmt(p['median'])} [{fmt(p['q1'])}, {fmt(p['q3'])}] "
                    f"| {fmt(c['median'])} [{fmt(c['q1'])}, {fmt(c['q3'])}] "
                    f"| {fmt(m['change_over_parent'])} | {m['change_wins']}/{m['change_losses']} "
                    f"| {'yes' if m['claimable'] else 'no'} | {bound} |")
            failed = [f"{side} seed {r['seed']}: {r['failed']}/{r['attempted']} failed"
                      for side in ("parent", "change") for r in res[f"{kind}_runs"][side]
                      if r.get("failed")]
            lines += [""] + ([f"Failed operations: {'; '.join(failed)}", ""] if failed else [])
    return "\n".join(lines) + "\n"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default="etl_relational,stream_ingest")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=None)
    a = ap.parse_args()

    contract = json.loads((REPO / "BENCHMARK.json").read_text())
    spec = {m["name"]: m for m in contract["end_to_end"] + contract["per_layer"]}
    seconds = contract["run_seconds"]
    seeds = list(range(1, a.pairs + 1))
    work = pathlib.Path(tempfile.mkdtemp(prefix="perfbench_ab_"))
    sides = {"parent": work / "parent", "change": work / "change"}
    for side, rev in (("parent", a.parent), ("change", a.change)):
        export(rev, sides[side])
    commit = {side: rev if rev == "." else subprocess.run(
        ["git", "rev-parse", "--short", rev], cwd=REPO, check=True, capture_output=True,
        text=True).stdout.strip() for side, rev in (("parent", a.parent), ("change", a.change))}

    report = {"parent": commit["parent"], "change": commit["change"], "pairs": a.pairs,
              "seeds": seeds, "seconds": seconds, "workloads": {}}
    for w in a.workloads.split(","):
        runs = {"parent": [], "change": []}
        for i, seed in enumerate(seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                runs[side].append(run(sides[side], w, seed, seconds, 0))
                print(f"{w} pair {i + 1} seed {seed} {side}: " + json.dumps(
                    {k: v["value"] for k, v in runs[side][-1]["metrics"].items()}),
                    file=sys.stderr, flush=True)
        res = {"timed_runs": runs, "timed": compare(runs["parent"], runs["change"], spec)}
        if a.trace:
            traced = {side: [run(sides[side], w, seeds[0], seconds, 1)]
                      for side in ("parent", "change")}
            res["traced_runs"] = traced
            res["traced"] = compare(traced["parent"], traced["change"], spec)
        report["workloads"][w] = res
    out = pathlib.Path(a.out) if a.out else work / "perfbench_ab"
    out.with_suffix(".json").write_text(json.dumps(report, indent=1) + "\n")
    out.with_suffix(".md").write_text(markdown(report))
    print(f"wrote {out.with_suffix('.json')} and {out.with_suffix('.md')}; checkouts in {work}")


if __name__ == "__main__":
    main()
