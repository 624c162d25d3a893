#!/usr/bin/env python3
"""Benchmark of the ingest pipeline and the query lanes.

    python3 perfbench/run.py --workload ingest_drain --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program (see
build.py). One JVM runs the workload on local[nproc]; this front end turns
its raw samples into the metrics named in BENCHMARK.json, checks
correctness, deletes the run directory and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Named per-workload readings and their sample counts are printed as
`# name = value unit` lines before it.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("ingest_drain", "ingest_steady", "query_mix")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def say(name, value, unit, note=""):
    print("# %-36s = %.6g %s%s" % (name, value, unit, ("  (" + note + ")") if note else ""))


def cpu_times():
    """Aggregate /proc/stat CPU jiffies, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_pct(a, b):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings: host contention the run cannot control."""
    if not a or not b:
        return None
    total = sum(b) - sum(a)
    return 100.0 * (b[7] - a[7]) / total if total > 0 else 0.0


def load_spec(root):
    path = os.path.join(root, "BENCHMARK.json")
    with open(path) as fh:
        return json.load(fh)


def jvm(root, classes, args, run_dir):
    jars = build.spark_jars()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(root, "src", "main", "resources"),
                          os.path.join(jars, "*")])
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
            "-Djava.io.tmpdir=" + tmp,
            "-Dderby.system.home=" + run_dir,
            "-Dderby.stream.error.file=" + os.path.join(run_dir, "derby.log"),
            "-Dspark.ui.enabled=false", "-Duser.dir=" + run_dir]
           + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.PerfBench"] + args)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-6000:]
        raise RuntimeError("benchmark JVM exited with %s\n%s" % (code, tail))


# ---------------------------------------------------------------- ingest

def commits(run):
    return {b["id"]: b["end_ms"] for b in run["batches"] if b["ok"]}


def batch_failures(run):
    failed = sum(1 for b in run["batches"] if not b["ok"])
    if run.get("error") and failed == 0:
        failed = 1
    return len(run["batches"]), failed


def drain_metrics(run):
    done = commits(run)
    files = [(f["rows"], done.get(f["batch"])) for f in run["files"]]
    if any(c is None for _, c in files):
        raise ValueError("a backlog file never reached a committed batch")
    first = min(c for _, c in files)
    rest = [(r, c) for r, c in files if c > first]
    wall_ms = max(c for _, c in rest) - first
    rows = sum(r for r, _ in rest)
    lat = [(c - first, r) for r, c in rest]
    return {
        "rows_per_s": rows / (wall_ms / 1e3),
        "latency_p50_ms": stats.weighted_percentile(lat, 50),
        "n_rows": rows, "n_batches": len(rest), "wall_ms": wall_ms,
    }


def steady_metrics(run):
    done = commits(run)
    period = run["period_ms"]
    fs = sorted(run["files"], key=lambda f: f["file"])
    if any(done.get(f["batch"]) is None for f in fs):
        raise ValueError("a published file never reached a committed batch")
    due = [f["due_ms"] for f in fs]
    pub = [f["pub_ms"] for f in fs]
    com = [done[f["batch"]] for f in fs]
    fresh = [c - d for c, d in zip(com, due)]
    rows = sum(f["rows"] for f in fs)
    late = stats.lateness(due, pub, period)
    blog = stats.backlog(pub, com)
    batch_ms = stats.percentile([b["end_ms"] - b["start_ms"] for b in run["batches"]], 50)
    p90 = stats.tail(fresh, 90)
    return {
        "rows_per_s": rows / ((max(com) - min(due)) / 1e3),
        "latency_p50_ms": stats.percentile(fresh, 50), "p90": p90,
        "n_files": len(fs), "lateness": late,
        "backlog_max": max(blog), "backlog_grew": stats.backlog_grew(blog, period, batch_ms),
    }


def ingest_problems(run, m=None):
    out = list(run["checks"]["problems"])
    if run.get("error"):
        out.append("stream terminated with an error: " + run["error"])
    if m is not None and "lateness" in m:
        if not m["lateness"]["ok"]:
            out.append("INVALID: the generator ran late (%d of %d ticks late, worst %.1f ms)"
                       % (m["lateness"]["late_ticks"], m["lateness"]["ticks"], m["lateness"]["max_ms"]))
        if m["backlog_grew"]:
            out.append("INVALID: the backlog grew during the schedule")
        if not m["p90"]["ok"]:
            out.append("INVALID: p90 has only %d samples beyond it" % m["p90"]["beyond"])
    return out


def progress_layers(run, published):
    """Per-batch phases and state metrics from StreamingQueryProgress."""
    prog = [json.loads(p) for p in run["progress"]]
    prog = [p for p in prog if "batchId" in p]
    out = {}
    if not prog:
        return out
    phases = {"trigger": "triggerExecution", "add_batch": "addBatch",
              "query_planning": "queryPlanning", "wal_commit": "walCommit",
              "commit_offsets": "commitOffsets", "latest_offset": "latestOffset",
              "get_batch": "getBatch"}
    for name, key in phases.items():
        vals = [p["durationMs"].get(key, 0) for p in prog]
        out["batch.%s_ms_p50" % name] = stats.percentile(vals, 50)
    out["batch.count"] = len(prog)
    out["batch.no_data_count"] = sum(1 for p in prog if p.get("numInputRows", 0) == 0)
    out["batch.trigger_sum_s"] = sum(p["durationMs"].get("triggerExecution", 0) for p in prog) / 1e3
    out["dedup.source_reads_per_row"] = sum(p.get("numInputRows", 0) for p in prog) / float(published)
    st = [s for p in prog for s in p.get("stateOperators", [])]
    if st:
        out["state.rows_total"] = max(s.get("numRowsTotal", 0) for s in st)
        out["state.commit_ms"] = sum(s.get("commitTimeMs", 0) for s in st)
        out["state.memory_bytes"] = max(s.get("memoryUsedBytes", 0) for s in st)
    return out


def ingest_summary(raw, workload, trace):
    runs = raw["runs"]
    base = runs[0]
    fn = drain_metrics if workload == "ingest_drain" else steady_metrics
    attempted = failed = 0
    problems = []
    ms = []
    for r in runs:
        a, f = batch_failures(r)
        attempted += a
        failed += f
        try:
            m = fn(r)
        except ValueError as e:
            m = None
            problems.append(str(e))
        problems += ingest_problems(r, m)
        ms.append(m)
    m = ms[0]
    setup = raw["session_s"] + stats.percentile(base["setup_s"], 50)
    e2e = {}
    if m is not None:
        e2e = {"setup_s": setup, "rows_per_s": m["rows_per_s"], "latency_p50_ms": m["latency_p50_ms"]}
        if workload == "ingest_drain":
            say("ingest_rows_per_s", m["rows_per_s"], "1/s",
                "%d rows over %d batches after the first commit" % (m["n_rows"], m["n_batches"]))
        else:
            say("freshness_p50_ms", m["latency_p50_ms"], "ms", "n=%d files" % m["n_files"])
            say("freshness_p90_ms", m["p90"]["value"], "ms",
                "n=%d, %d beyond" % (m["p90"]["n"], m["p90"]["beyond"]))
            say("generator.lateness_max_ms", m["lateness"]["max_ms"], "ms",
                "%d of %d ticks late" % (m["lateness"]["late_ticks"], m["lateness"]["ticks"]))
            say("generator.backlog_max", m["backlog_max"], "files")
    layers = {}
    if trace and len(runs) > 1 and ms[1] is not None and m is not None:
        t = runs[1]
        layers = dict(t["layers"])
        # the cold pass is the untraced run's first batch: the traced run's is warm
        layers["query.first_pass_s"] = base["cold_batch_s"]
        layers.update(base["cold_batch_compile"])
        layers.update(progress_layers(t, t["published_rows"]))
        chk = t["checks"]
        layers["dedup.pass_ratio"] = chk["landed_rows"] / float(t["published_rows"])
        data_batches = len({f["batch"] for f in t["files"]})
        layers["sink.slots_per_batch"] = chk["ledger_rows"] / float(max(1, data_batches))
        layers["sink.write_s"] = sum(b["end_ms"] - b["start_ms"] for b in t["batches"]) / 1e3
        if workload == "ingest_drain":
            # rows/s is higher-better: a slower traced run is a positive overhead
            layers["trace.overhead_pct"] = 100.0 * (m["rows_per_s"] - ms[1]["rows_per_s"]) / m["rows_per_s"]
            layers["batch.trigger_share_of_wall"] = layers.get("batch.trigger_sum_s", 0) / (
                (t["stream_end_ms"] - t["start_ms"]) / 1e3)
        else:
            layers["trace.overhead_pct"] = 100.0 * (ms[1]["latency_p50_ms"] - m["latency_p50_ms"]) / m["latency_p50_ms"]
    return e2e, layers, attempted, failed, problems


# ---------------------------------------------------------------- query mix

def query_summary(raw, trace):
    with open(os.path.join(HERE, "pins.json")) as fh:
        pins = json.load(fh)
    problems = []
    attempted = len(raw["first"]) + len(raw["lanes"])
    failed = 0
    for r in raw["first"]:
        if r["error"]:
            failed += 1
            problems.append("%s threw: %s" % (r["lane"], r["error"]))
        elif pins.get(r["lane"]) != r["fingerprint"]:
            problems.append("%s fingerprint %s != pinned %s" % (r["lane"], r["fingerprint"], pins.get(r["lane"])))
    for r in raw["lanes"]:
        if r["error"]:
            failed += 1
            problems.append("%s (pass %d) threw: %s" % (r["lane"], r["pass"], r["error"]))
    plain_runs = [r for r in raw["lanes"] if not r["traced"] and not r["settle"]]
    plain_passes = [p["wall_s"] for p in raw["passes"] if not p["traced"]]
    warm = statistics.median(plain_passes)
    result_rows = sum(r["rows"] for r in raw["first"])
    lane_ms = [r["wall_s"] * 1e3 for r in plain_runs]
    p90 = stats.tail(lane_ms, 90)
    per_lane = {lane: statistics.median(r["wall_s"] * 1e3 for r in plain_runs if r["lane"] == lane)
                for lane in sorted({r["lane"] for r in plain_runs})}
    # the median over lanes of each lane's median run: a median over all runs
    # of a few lanes of very different cost lands on one lane's extreme run
    e2e = {"setup_s": raw["session_s"] + stats.percentile(raw["setup_s"], 50),
           "rows_per_s": result_rows / warm,
           "latency_p50_ms": statistics.median(per_lane.values())}
    say("query_warm_s", warm, "s", "median of %d warm passes after two settle passes" % len(plain_passes))
    say("lane_p90_ms", p90["value"], "ms", "n=%d lane runs, %d beyond" % (p90["n"], p90["beyond"]))
    for lane, ms in per_lane.items():
        say("lane.%s.warm_ms" % lane, ms, "ms")
    layers = {}
    if trace:
        layers = dict(raw["layers"])
        layers["trace.overhead_pct"] = 100.0 * (layers["trace.pass_traced_s"] - layers["trace.pass_untraced_s"]) \
            / layers["trace.pass_untraced_s"]
    return e2e, layers, attempted, failed, problems


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        print("[perfbench] unknown workload %r; one of %s" % (a.workload, ", ".join(WORKLOADS)),
              file=sys.stderr)
        return 2
    root = os.getcwd()
    try:
        spec = load_spec(root)
        classes = build.ensure(root)
    except (OSError, ValueError, build.BuildError) as e:
        print("[perfbench] cannot build or configure: %s" % e, file=sys.stderr)
        return 3
    run_dir = os.path.join(root, ".bench_run", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    data_dir = os.path.join(HERE, "data", "sf0.01")
    out_json = os.path.join(run_dir, "out.json")
    os.makedirs(run_dir)
    t0 = time.time()
    cpu0 = cpu_times()
    try:
        jvm(root, classes, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                            run_dir, out_json, data_dir], run_dir)
        with open(out_json) as fh:
            raw = json.load(fh)
    except (RuntimeError, OSError, ValueError) as e:
        print("[perfbench] run failed: %s" % e, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    if a.workload == "query_mix":
        e2e, layers, attempted, failed, problems = query_summary(raw, a.trace)
    else:
        e2e, layers, attempted, failed, problems = ingest_summary(raw, a.workload, a.trace)
    if a.trace:
        trace_dir = os.path.join(root, ".bench_traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, "%s-seed%d.json" % (a.workload, a.seed)), "w") as fh:
            json.dump({"spans": raw["spans"], "layers": layers}, fh)
        for k in sorted(layers):
            say(k, layers[k], "")
    for p in problems:
        print("[perfbench] " + p, file=sys.stderr)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = layers if a.trace else e2e
    ok = not problems and all(m["name"] in source for m in wanted)
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in wanted if m["name"] in source} if ok else {}
    say("wall_s", time.time() - t0, "s", "this run, build excluded")
    steal = steal_pct(cpu0, cpu_times())
    if steal is not None:
        say("host.steal_pct", steal, "%", "CPU time taken by other guests during the run")
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
