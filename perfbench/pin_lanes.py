#!/usr/bin/env python3
"""Pin the query_mix result fingerprints, cross-checked against DuckDB.

    python3 perfbench/pin_lanes.py            # from the repository root

Runs every candidate lane once on the bundled tables (perfbench/data),
fingerprints each result, runs the lane's SparkEntry.oracleSql text in
DuckDB over the same parquet files, fingerprints that result the same way,
and writes perfbench/pins.json with the lanes whose two fingerprints agree.
A lane that does not match is reported and left unpinned. Needs the
`duckdb` Python module; the benchmark runs themselves do not.
"""

import datetime
import decimal
import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
_CTX = decimal.Context(prec=6, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = datetime.datetime(1970, 1, 1)


def num(d):
    """Six significant digits, half-even on the exact binary value: the
    same text Fingerprint.num renders on the JVM."""
    d = float(d)
    if d != d:
        return "nan"
    if d in (float("inf"), float("-inf")):
        return "inf" if d > 0 else "-inf"
    if d == 0.0:
        return "0.00000e+00"
    sign, digits, exp = _CTX.plus(decimal.Decimal(d)).as_tuple()
    u = "".join(map(str, digits))
    e = len(u) - 1 + exp
    ds = (u + "00000")[:6]
    return "%s%s.%se%s%02d" % ("-" if sign else "", ds[0], ds[1:], "-" if e < 0 else "+", abs(e))


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return num(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - _EPOCH
        return str((delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    total = 0
    for r in rows:
        line = "\x1f".join(canon(r[i]) for i in order)
        total = (total + int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "big")) % (1 << 64)
    return "%d:%x" % (len(rows), total)


def main():
    import duckdb
    root = os.getcwd()
    classes = build.ensure(root)
    data = os.path.join(HERE, "data", "sf0.01")
    run_dir = os.path.join(root, ".bench_run", "pin-%d" % os.getpid())
    os.makedirs(run_dir)
    try:
        out = os.path.join(run_dir, "out.json")
        run.jvm(root, classes, ["pin_lanes", "0", "0", "0", run_dir, out, data], run_dir)
        with open(out) as fh:
            lanes = json.load(fh)["pins"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, os.path.join(data, t + ".parquet")))
    pins = {}
    for lane in lanes:
        name = lane["lane"]
        if not lane["oracle_sql"]:
            print("%-26s no oracle SQL: not pinned" % name)
            continue
        cur = con.execute(lane["oracle_sql"])
        cols = [d[0] for d in cur.description]
        want = fingerprint(cur.fetchall(), cols)
        if want == lane["fingerprint"]:
            pins[name] = lane["fingerprint"]
            print("%-26s %s  matches DuckDB" % (name, want))
        else:
            print("%-26s spark %s != duckdb %s: not pinned" % (name, lane["fingerprint"], want))
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
