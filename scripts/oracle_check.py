#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: oracle_check.py <sfDir> <verifyOutDir> [query ...]

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching SQL from <verifyOutDir>/oracle_sql.json in DuckDB against the same
sfDir tables, and compares: columns sorted by name, rows sorted by stringified
values, cell-by-cell. Reports EXACT / CLOSE (numeric <1e-9 rel) / FAIL.
"""
import json, sys, math, os, shutil
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm_cell(v):
    import numpy as np
    import datetime, decimal
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, np.integer):
        v = int(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime,)):
        return v.isoformat()
    if isinstance(v, (datetime.date,)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)

def close_cell(a, b):
    if a == b:
        return True
    try:
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    except (ValueError, TypeError):
        return False

def frame_to_rows(df):
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    return cols, rows

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    # Explicit memory cap + spill dir: the round-14 driver check lost q176 to
    # a DuckDB OOM on a memory-pressured epoch. Capping here (a) keeps the
    # whole catalog's oracles honest about their memory floors, and (b) lets
    # DuckDB spill instead of dying when one legitimately exceeds it.
    # Override with GRAFT_ORACLE_MEM=512MB etc.
    con.execute(f"PRAGMA memory_limit='{os.environ.get('GRAFT_ORACLE_MEM', '2GB')}'")
    spill = os.environ.get('GRAFT_ORACLE_SPILL', '/tmp/graft_duck_spill')
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    # ...but never without bound: half the disk free at start. An oracle
    # that outgrows it (q24's customers x sites at sf0.1) fails its own
    # query as [FAIL-sql] instead of filling the disk under the rest.
    con.execute("SET max_temp_directory_size="
                f"'{shutil.disk_usage(spill).free // 2}B'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_exact = n_close = n_fail = n_noor = 0
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    for name in names:
        if only and name not in only:
            continue
        spark_df = pq.read_table(os.path.join(out_dir, name)).to_pandas()
        if name not in oracle:
            print(f"[no-oracle] {name}: rows={len(spark_df)} (rows-only check)")
            n_noor += 1
            continue
        try:
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"[FAIL-sql ] {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        sc, sr = frame_to_rows(spark_df)
        dc, dr = frame_to_rows(duck_df)
        if sc != dc:
            print(f"[FAIL-cols] {name}: spark={sc} duck={dc}")
            n_fail += 1
            continue
        if sr == dr:
            print(f"[EXACT    ] {name}: rows={len(sr)}")
            n_exact += 1
            continue
        if len(sr) != len(dr):
            print(f"[FAIL-rows] {name}: spark={len(sr)} duck={len(dr)}")
            for i, (a, b) in enumerate(zip(sr[:3], dr[:3])):
                print(f"   spark{i}: {a}\n   duck {i}: {b}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(sr, dr)
               if not all(close_cell(x, y) for x, y in zip(a, b))]
        if not bad:
            print(f"[CLOSE    ] {name}: rows={len(sr)} (float-tolerant only — tighten!)")
            n_close += 1
        else:
            print(f"[FAIL-val ] {name}: {len(bad)}/{len(sr)} mismatched rows; cols={sc}")
            for a, b in bad[:3]:
                print(f"   spark: {a}\n   duck : {b}")
            n_fail += 1
    print(f"\nexact={n_exact} close={n_close} fail={n_fail} no-oracle={n_noor}")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
