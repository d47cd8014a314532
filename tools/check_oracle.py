#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate: run graft.Verify
output against DuckDB oracles and diff. Usage:
  python3 tools/check_oracle.py <sfDir> <verifyOutDir>
  python3 tools/check_oracle.py --against=<otherVerifyOutDir> <verifyOutDir>
The second form compares two graft.Verify dumps row for row, every query
including the rows-only ones: same columns, and the same rows once both
sides are sorted. It exits 1 when any query differs.
"""
import sys, os, json, glob
import duckdb

args = [a for a in sys.argv[1:] if not a.startswith("--")]
json_out = next((a.split("=", 1)[1] for a in sys.argv[1:]
                 if a.startswith("--json=")), None)
against = next((a.split("=", 1)[1] for a in sys.argv[1:]
                if a.startswith("--against=")), None)
con = duckdb.connect()


def compare_dumps(this, other):
    """Per query directory in either dump: IDENTICAL, or why not."""
    def queries(d):
        return {n for n in os.listdir(d) if os.path.isdir(f"{d}/{n}")}
    def scan(d, name):
        return f"read_parquet('{d}/{name}/*.parquet')"
    results = {}
    for name in sorted(queries(this) | queries(other)):
        try:
            cols = [sorted(c[:2] for c in con.execute(
                f"DESCRIBE SELECT * FROM {scan(d, name)}").fetchall())
                for d in (this, other)]
        except Exception as e:
            results[name] = f"UNREADABLE: {e}"
            continue
        if cols[0] != cols[1]:
            results[name] = f"SCHEMA-MISMATCH: {cols[0]} vs {cols[1]}"
            continue
        sel = ", ".join(f'"{c[0]}"' for c in cols[0])
        a, b = (f"SELECT {sel} FROM {scan(d, name)}" for d in (this, other))
        # multiset difference both ways: equal row counts and no row of
        # one side missing from the other is "same rows once sorted"
        n, only_a, only_b = con.execute(
            f"SELECT (SELECT count(*) FROM ({a})) - (SELECT count(*) FROM ({b})),"
            f" (SELECT count(*) FROM ({a} EXCEPT ALL {b})),"
            f" (SELECT count(*) FROM ({b} EXCEPT ALL {a}))").fetchone()
        results[name] = ("IDENTICAL" if (n, only_a, only_b) == (0, 0, 0) else
                         f"ROWS-DIFFER: {only_a} rows only here, "
                         f"{only_b} only in {other}")
    return results


if against:
    results = compare_dumps(args[-1], against)
    same = sum(1 for v in results.values() if v == "IDENTICAL")
    for name, v in results.items():
        if v != "IDENTICAL":
            print(f"✗ {name}: {v}")
    print(f"\n{same}/{len(results)} queries identical to {against}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"against": against, "n_same": same,
                       "n_checked": len(results), "results": results},
                      f, indent=1, sort_keys=True)
    sys.exit(0 if same == len(results) else 1)

sfdir, outdir = args[0], args[1]
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    # tables written by Spark are DIRECTORIES of part files (the
    # driver-generated testdata is single-file) — glob either shape
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")

only_present = "--only-present" in sys.argv  # subset Verify runs
# --timeout=SECS: per-oracle cap (sf1 replays of iterative/recursive
# oracles can run long in DuckDB; a capped query reports ORACLE-TIMEOUT
# instead of stalling the whole sweep)
timeout_s = next((float(a.split("=", 1)[1]) for a in sys.argv[1:]
                  if a.startswith("--timeout=")), None)
import threading
def run_capped(sql):
    if not timeout_s:
        return con.execute(sql).fetchdf()
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).fetchdf()
    finally:
        timer.cancel()
oracle = json.load(open(f"{outdir}/oracle_sql.json"))
results = {}
for name, sql in sorted(oracle.items()):
    spark_dir = f"{outdir}/{name}"
    if not os.path.isdir(spark_dir):
        if not only_present:
            results[name] = "MISSING-SPARK-OUTPUT"
        continue
    try:
        duck = run_capped(sql)
    except KeyboardInterrupt:
        results[name] = f"ORACLE-TIMEOUT>{timeout_s}s"
        continue
    except Exception as e:
        msg = str(e)
        results[name] = (f"ORACLE-TIMEOUT>{timeout_s}s"
                         if "INTERRUPT" in msg.upper()
                         else f"ORACLE-SQL-ERROR: {e}")
        continue
    try:
        spark = con.execute(
            f"SELECT * FROM '{spark_dir}/*.parquet'").fetchdf()
    except Exception as e:
        results[name] = f"SPARK-READ-ERROR: {e}"
        continue
    # driver semantics: sort columns by name, then sort rows, then compare
    duck = duck[sorted(duck.columns)]
    spark = spark[sorted(spark.columns)]
    if list(duck.columns) != list(spark.columns):
        results[name] = f"SCHEMA-MISMATCH: duck={list(duck.columns)} spark={list(spark.columns)}"
        continue
    if len(duck) != len(spark):
        results[name] = f"ROWCOUNT-MISMATCH: duck={len(duck)} spark={len(spark)}"
        continue
    ds = duck.sort_values(by=list(duck.columns)).reset_index(drop=True)
    ss = spark.sort_values(by=list(spark.columns)).reset_index(drop=True)
    dtypes_d = [str(t) for t in ds.dtypes]
    dtypes_s = [str(t) for t in ss.dtypes]
    mismatch = None
    for c in ds.columns:
        if not ds[c].equals(ss[c]):
            # show first differing row
            neq = ds[c] != ss[c]
            # NaN == NaN handling
            import pandas as pd
            both_na = ds[c].isna() & ss[c].isna()
            neq = neq & ~both_na
            if neq.any():
                i = neq.idxmax()
                mismatch = f"VALUE-MISMATCH col={c} row={i}: duck={ds[c][i]!r} spark={ss[c][i]!r}"
                break
    if mismatch:
        results[name] = mismatch
    elif dtypes_d != dtypes_s:
        results[name] = f"DTYPE-DIFF (values equal): duck={dtypes_d} spark={dtypes_s}"
    else:
        results[name] = f"OK ({len(ds)} rows)"

ok = sum(1 for v in results.values() if v.startswith("OK"))
for name, v in sorted(results.items()):
    print(f"{'✓' if v.startswith('OK') else '✗'} {name}: {v}")
print(f"\n{ok}/{len(results)} oracle-checked queries match")
if json_out:
    with open(json_out, "w") as f:
        json.dump({"sfdir": sfdir, "n_ok": ok, "n_checked": len(results),
                   "results": results}, f, indent=1, sort_keys=True)
# queries without oracle: report row counts
no_oracle = [os.path.basename(d) for d in glob.glob(f"{outdir}/q_*")
             if os.path.isdir(d) and os.path.basename(d) not in oracle]
for name in sorted(no_oracle):
    try:
        n = len(con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'").fetchdf())
        print(f"· {name}: rows-only ({n} rows)")
    except Exception as e:
        print(f"· {name}: UNREADABLE {e}")
