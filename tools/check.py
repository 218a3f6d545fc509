#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs graft.Verify (compiled classes + /opt/spark/jars) on a scale-factor dir,
then replays every oracle_sql.json entry in DuckDB over the same parquet
tables and diffs against the Spark result parquet: schema (column names,
sorted), row count, and value-hash over rows sorted by all columns.

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify] [query ...]
"""
import json, os, subprocess, sys, hashlib, math
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_verify(sfdir, outdir):
    # imported here: callers that load this file by path for table_sig do
    # not have tools/ on sys.path
    from measure import cpus, java_cmd
    cmd = java_cmd("graft.Verify", sfdir, outdir)
    env = {"PATH": "/usr/bin:/bin", "SPARK_GRAFT_CPUS": str(cpus())}
    if "SPARK_GRAFT_VERIFY_ONLY" in os.environ:
        env["SPARK_GRAFT_VERIFY_ONLY"] = os.environ["SPARK_GRAFT_VERIFY_ONLY"]
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print("  !", line)
    if r.returncode != 0:
        print(r.stdout[-3000:])
        print(r.stderr[-6000:])
        sys.exit("verify failed")


def norm_cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style canonicalization: repr of float
        return repr(round(v, 9))
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_sig(df):
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(r[df.columns.get_loc(c)]) for c in cols)
            for r in df.itertuples(index=False)]
    rows.sort()
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return cols, len(rows), h.hexdigest(), rows


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    skip_verify = "--skip-verify" in sys.argv
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    outdir = args[1] if len(args) > 1 else "/tmp/verify_out"
    only = set(args[2:])

    if not skip_verify:
        run_verify(sfdir, outdir)

    oracle = json.loads(Path(outdir, "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

    ok = bad = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        res_dir = Path(outdir, name)
        if not res_dir.exists():
            print(f"FAIL {name}: no spark result written")
            bad += 1
            continue
        spark_df = con.sql(f"SELECT * FROM read_parquet('{res_dir}/*.parquet')").df()
        try:
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            bad += 1
            continue
        sc, sn, sh, srows = table_sig(spark_df)
        dc, dn, dh, drows = table_sig(duck_df)
        if sc != dc:
            print(f"FAIL {name}: schema spark={sc} duck={dc}")
            bad += 1
        elif sn != dn:
            print(f"FAIL {name}: rows spark={sn} duck={dn}")
            bad += 1
        elif sh != dh:
            diff = next((i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b)
            print(f"FAIL {name}: hash mismatch; first diff row {diff[0]}:\n  spark={diff[1]}\n  duck ={diff[2]}\n  cols ={sc}")
            bad += 1
        else:
            print(f"OK   {name} ({sn} rows)")
            ok += 1
    # queries without oracle → rows-only smoke
    for d in sorted(Path(outdir).iterdir()):
        if d.is_dir() and d.name not in oracle and (not only or d.name in only):
            n = con.sql(f"SELECT count(*) FROM read_parquet('{d}/*.parquet')").fetchone()[0]
            print(f"ROWS {d.name} ({n} rows, no oracle)")
    print(f"\n{ok} ok / {bad} fail")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
