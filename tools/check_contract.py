"""Driver-mimic: run every __spark_entry__ query against its DuckDB oracle
at a given sf dir and compare row count + order-insensitive values.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from softcite_kb_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    # \x00 prefix keeps NULL distinct from a literal string 'NULL'
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    # escape the row-key separator so a \x1f inside a text cell cannot
    # shift field boundaries and collide two different rows
    return str(v).replace("\x1f", "\x00S")


def frame_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["\x1f".join(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="contract-check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name must not produce a vacuous '0 pass, 0 fail' success
        print(f"FAIL: unknown query names {sorted(unknown)}")
        sys.exit(2)
    stale_oracles = set(oracles) - set(qs)
    if stale_oracles:
        print(f"FAIL: oracle_sql keys without queries: {sorted(stale_oracles)}")
        sys.exit(2)
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            pdf = df.toPandas()
            spark_rows = [tuple(r) for r in pdf.itertuples(index=False)]
            spark_cols = list(pdf.columns)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(spark_rows)} rows")
            n_rows_only += 1
            continue
        try:
            res = con.sql(oracles[name])
            duck_cols = res.columns
            duck_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            print(f"FAIL {name}: columns differ {sorted(spark_cols)} vs {sorted(duck_cols)}")
            n_fail += 1
            continue
        if len(spark_rows) != len(duck_rows):
            print(f"FAIL {name}: rowcount {len(spark_rows)} vs {len(duck_rows)}")
            n_fail += 1
            continue
        a = frame_key(spark_rows, spark_cols)
        b = frame_key(duck_rows, duck_cols)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diff}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(spark_rows)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
