#!/usr/bin/env python3
"""One-command output check for every benchmark workload.

    python3 perfbench/check.py [--pin]

olap and iterative: each query of the workload runs once; its result is
written to parquet and compared with its DuckDB oracle
(graft.SparkEntry.oracleSql) over the same tables, after sorting columns by
name and rows by value, with exact equality. The result digest the
benchmark checks every request against must equal the one pinned in
expected.json; --pin (re)writes expected.json from results that match their
oracle. crack and service: a short run whose every verdict is re-hashed
against the generator's ground truth (service also needs exactly one reply
per request). Exits 0 only when every check passes.
"""
import glob
import json
import os
import subprocess
import sys

import run

EXPECTED = os.path.join(run.HERE, "expected.json")


def oracle_diff(con, sql, parquet_dir):
    """None when the Spark result equals the oracle's, else the difference."""
    duck = con.execute(sql).fetchdf()
    spark = con.execute(f"SELECT * FROM '{parquet_dir}/*.parquet'").fetchdf()
    duck = duck[sorted(duck.columns)]
    spark = spark[sorted(spark.columns)]
    if list(duck.columns) != list(spark.columns):
        return f"columns: oracle {list(duck.columns)}, spark {list(spark.columns)}"
    if len(duck) != len(spark):
        return f"rows: oracle {len(duck)}, spark {len(spark)}"
    cols = list(duck.columns)
    d = duck.sort_values(by=cols).reset_index(drop=True)
    s = spark.sort_values(by=cols).reset_index(drop=True)
    for c in cols:
        neq = (d[c] != s[c]) & ~(d[c].isna() & s[c].isna())
        if neq.any():
            i = neq.idxmax()
            return f"column {c} row {i}: oracle {d[c][i]!r}, spark {s[c][i]!r}"
    return None


def check_registry(workload, pinned):
    import duckdb
    queries = run.WORKLOADS[workload]["queries"]
    data = run.data_dir(workload)
    lines = [f"T\t{i}\t{q}\t0" for i, q in enumerate(queries)]
    _, out, _ = run.run_jvm(workload, lines, 0, 0, mode="pin", data=data)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    pin_dir = os.path.join(run.WORK, f"pin-{workload}", "pin")
    digests, ok = {}, True
    for q in queries:
        sql = out["oracle_sql"].get(q)
        diff = "no oracle" if sql is None else oracle_diff(con, sql, os.path.join(pin_dir, q))
        if diff is None:
            digests[q] = out["digests"][q]
            if pinned is not None and pinned.get(q) != digests[q]:
                diff = f"digest {digests[q]} differs from pinned {pinned.get(q)}"
        print(f"{workload} {q}: {'ok' if diff is None else 'FAILED ' + diff}")
        ok = ok and diff is None
    return ok, digests


def check_stream(workload):
    r = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"),
                        "--workload", workload, "--seed", "1", "--seconds", "2",
                        "--trace", "0"], capture_output=True, text=True)
    last = (r.stdout.strip().splitlines() or ["{}"])[-1]
    res = json.loads(last) if last.startswith("{") else {}
    ok = r.returncode == 0 and res.get("correct") is True and res.get("failed") == 0
    print(f"{workload}: {'ok' if ok else 'FAILED'} "
          f"({res.get('attempted')} requests, {res.get('failed')} failed)")
    if not ok:
        sys.stderr.write(r.stderr[-2000:])
    return ok


def main():
    pin = "--pin" in sys.argv[1:]
    run.build()
    pinned_all = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            pinned_all = json.load(f)
    ok = True
    fresh = {}
    for w in ("olap", "iterative"):
        w_ok, fresh[w] = check_registry(w, None if pin else pinned_all.get(w, {}))
        ok = ok and w_ok
    if pin:
        if not ok:
            print("not pinned: some results differ from their oracle")
            sys.exit(1)
        with open(EXPECTED, "w") as f:
            json.dump(fresh, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"pinned {sum(len(v) for v in fresh.values())} digests in {EXPECTED}")
    for w in ("crack", "service"):
        ok = check_stream(w) and ok
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
