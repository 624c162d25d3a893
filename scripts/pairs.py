#!/usr/bin/env python3
"""Alternating before/after pairs of the repo benchmark.

    python3 scripts/pairs.py --workload ingest_drain --seeds 301-320
    python3 scripts/pairs.py --workload query_mix --seeds 401-410 --parent HEAD~1

Run from the repository root. The parent revision (default HEAD, i.e. the
working tree against its last commit) is extracted once with `git archive`
into --parent-dir. For each seed, perfbench/run.py runs once in the parent
tree and once in the working tree; the order flips from seed to seed, so
neither side always runs on a warmer host. Each tree builds its own
program on its first run.

Per end-to-end metric of BENCHMARK.json it prints each side's median and
quartiles, how many pairs the change won, and whether a gain claim holds:
the change wins at least 9 pairs in 10 and its median beats the parent's
by more than the parent's inter-quartile range. It also prints the median
move against the metric's bound. --out keeps every run as JSON.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def checkout(rev, path):
    """Extract `rev` into `path` unless it is already there."""
    if os.path.isdir(path):
        return
    os.makedirs(path)
    archive = subprocess.Popen(["git", "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", path], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit("git archive %s failed" % rev)


def run(tree, workload, seed, secs):
    out = subprocess.run(["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                          "--seconds", str(secs), "--trace", "0"],
                         cwd=tree, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    res["exit"] = out.returncode
    return res


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def summarize(spec, pairs):
    print("%-15s %-31s %-31s %-6s %-8s %s" % ("metric", "parent q1 / median / q3",
                                              "change q1 / median / q3", "wins", "move", "claim"))
    for m in spec["end_to_end"]:
        name, sign = m["name"], (1 if m["better"] == "higher" else -1)
        both = [(p["metrics"][name]["value"], c["metrics"][name]["value"]) for p, c in pairs
                if name in p["metrics"] and name in c["metrics"]]
        if not both:
            continue
        par = quartiles([p for p, _ in both])
        chg = quartiles([c for _, c in both])
        wins = sum(1 for p, c in both if sign * (c - p) > 0)
        gap = sign * (chg[1] - par[1])
        claim = wins >= 0.9 * len(both) and gap > par[2] - par[0]
        move = (chg[1] - par[1]) / par[1] if par[1] else float("nan")
        worse = -sign * move > m["bound"]
        print("%-15s %9.6g %9.6g %9.6g   %9.6g %9.6g %9.6g   %2d/%-3d %+7.1f%% %s%s" % (
            name, par[0], par[1], par[2], chg[0], chg[1], chg[2], wins, len(both), 100 * move,
            "holds" if claim else "no", "  WORSE THAN BOUND %.2f" % m["bound"] if worse else ""))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--parent", default="HEAD", help="revision to compare the working tree against")
    ap.add_argument("--parent-dir", help="where the parent tree goes (default ../pairs-<rev>)")
    ap.add_argument("--out", help="write every run as JSON here")
    a = ap.parse_args()
    here = os.getcwd()
    with open(os.path.join(here, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    secs = a.seconds or spec["run_seconds"]
    rev = subprocess.run(["git", "rev-parse", "--short", a.parent], stdout=subprocess.PIPE,
                         text=True, check=True).stdout.strip()
    parent_dir = os.path.abspath(a.parent_dir or os.path.join(here, "..", "pairs-" + rev))
    checkout(rev, parent_dir)
    pairs = []
    for i, s in enumerate(a.seeds):
        order = [("parent", parent_dir), ("change", here)]
        if i % 2:
            order.reverse()
        res = {side: run(tree, a.workload, s, secs) for side, tree in order}
        p, c = res["parent"], res["change"]
        pairs.append((p, c))
        print("seed %d (%s first): parent %s | change %s" % (
            s, order[0][0], json.dumps(p, sort_keys=True), json.dumps(c, sort_keys=True)), flush=True)
        if a.out:
            with open(a.out, "w") as fh:
                json.dump({"workload": a.workload, "parent": rev, "seeds": a.seeds[:i + 1],
                           "pairs": [{"parent": x, "change": y} for x, y in pairs]}, fh, indent=1)
    summarize(spec, pairs)
    bad = [s for s, (p, c) in zip(a.seeds, pairs) if not (p["correct"] and c["correct"])]
    ops = [(sum(p["attempted"] for p, _ in pairs), sum(p["failed"] for p, _ in pairs)),
           (sum(c["attempted"] for _, c in pairs), sum(c["failed"] for _, c in pairs))]
    print("failed/attempted: parent %d/%d, change %d/%d; incorrect seeds: %s" % (
        ops[0][1], ops[0][0], ops[1][1], ops[1][0], bad or "none"))
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
