"""DuckDB oracle check of the outputs a run's first warm-up pass wrote.

The comparison is the repository's own gate (scripts/oracle_check.py):
columns sorted by name, rows normalized and sorted, cell-exact. Only EXACT
counts as a pass.
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

from .inputs import TABLES


def _frame_to_rows(root):
    sys.path.insert(0, os.path.join(root, "scripts"))
    try:
        from oracle_check import frame_to_rows
    finally:
        sys.path.pop(0)
    return frame_to_rows


def check(root, input_dir, outputs_dir, oracle_sql, spill_dir):
    """{name: None when EXACT, else a one-line reason} for every name in
    oracle_sql."""
    frame_to_rows = _frame_to_rows(root)
    con = duckdb.connect()
    con.execute("PRAGMA memory_limit='1GB'")
    con.execute("SET threads TO 4")
    os.makedirs(spill_dir, exist_ok=True)
    con.execute(f"SET temp_directory='{spill_dir}'")
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    result = {}
    for name, sql in sorted(oracle_sql.items()):
        out = os.path.join(outputs_dir, name)
        if not os.path.isdir(out):
            result[name] = "no output written"
            continue
        try:
            spark_cols, spark_rows = frame_to_rows(pq.read_table(out).to_pandas())
            duck_cols, duck_rows = frame_to_rows(con.sql(sql).df())
        except Exception as e:  # a broken oracle or output is a failed check
            result[name] = f"error: {e}"
            continue
        if spark_cols != duck_cols:
            result[name] = f"columns differ: {spark_cols} vs {duck_cols}"
        elif len(spark_rows) != len(duck_rows):
            result[name] = f"rows differ: {len(spark_rows)} vs {len(duck_rows)}"
        elif spark_rows != duck_rows:
            result[name] = "values differ"
        else:
            result[name] = None
    con.close()
    return result
