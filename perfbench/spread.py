#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
median and its inter-quartile spread as a share of the median (the
steadiness the bounds in BENCHMARK.json are judged against).

    python3 perfbench/spread.py --workload ingest_drain --seeds 1-10
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    secs = a.seconds or spec["run_seconds"]
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for s in a.seeds:
        out = subprocess.run(["python3", os.path.join(HERE, "run.py"), "--workload", a.workload,
                              "--seed", str(s), "--seconds", str(secs), "--trace", "0"],
                             stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        steal = [ln.split("=")[1].split()[0] for ln in lines if ln.startswith("# host.steal_pct")]
        print("seed %d (steal %s%%): %s" % (s, steal[0] if steal else "?", json.dumps(res)), flush=True)
        if not res["correct"]:
            sys.exit("seed %d failed its correctness check" % s)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        print("%-16s median %-12.6g spread %.4f  bound %.2f  %s" % (
            m["name"], statistics.median(v), stats.spread(v), m["bound"],
            " ".join("%.6g" % x for x in v)))


if __name__ == "__main__":
    main()
