#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 via Spark AND
its ``oracle_sql()`` via DuckDB, then compares: row count, column-name
set, and order-insensitive values (columns sorted by name, rows sorted
by string repr). Reports per-query PASS/FAIL plus the max float delta
so rounding-boundary risk is visible before the driver runs.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    import numpy as np

    if isinstance(v, np.ndarray):
        return "[" + ",".join(norm_cell(x) for x in v.tolist()) + "]"
    if isinstance(v, np.generic):
        return norm_cell(v.item())
    return str(v)


def normalize(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    import __spark_entry__ as e
    from bytewax_spark.session import get_spark

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    passes = 0
    rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP  {name}: no oracle (rows-only check) — {len(spark_pdf)} rows, {time.time()-t0:.1f}s")
            rows_only += 1
            if len(spark_pdf) == 0:
                print(f"      WARNING: 0 rows")
            continue
        try:
            oracle_pdf = con.execute(sql).fetchdf()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures += 1
            continue
        s_cols, s_rows = normalize(spark_pdf)
        o_cols, o_rows = normalize(oracle_pdf)
        dt = time.time() - t0
        if s_cols != o_cols:
            print(f"FAIL  {name}: columns {s_cols} != {o_cols}")
            failures += 1
            continue
        if len(s_rows) != len(o_rows):
            print(f"FAIL  {name}: rows {len(s_rows)} != {len(o_rows)}")
            failures += 1
            continue
        if s_rows != o_rows:
            bad = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:3]
            print(f"FAIL  {name}: value mismatch; first diffs:")
            for a, b in bad:
                print(f"      spark={a}")
                print(f"      duck ={b}")
            failures += 1
            continue
        print(f"PASS  {name}: {len(s_rows)} rows, {dt:.1f}s")
        passes += 1
    total = passes + rows_only + failures
    if failures == 0:
        print(
            f"\nALL PASS ({total}/{total} registered queries: "
            f"{passes} oracled PASS + {rows_only} rows-only ran)"
        )
    else:
        print(f"\n{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
