"""Driver-mimicking correctness check: run every queries() entry on Spark
and its oracle_sql() on DuckDB over the same parquet; compare row count,
column names, and order-insensitive value multiset.

Usage: python tools/check_correctness.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, bool) or v is None:
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, float) or (not isinstance(v, (int, str)) and hasattr(v, "__float__")):
        f = float(v)
        return "nan" if math.isnan(f) else f"{f:.6g}"
    return v


def multiset(rows, cols):
    """Order-insensitive value multiset, columns taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(norm_cell(r[i]) for i in order) for r in rows), key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    import __spark_entry__ as e
    from texteller_spark.session import build_session

    spark = build_session("correctness", cpus=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if name_filter and name_filter not in name:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as ex:
            print(f"FAIL {name}: spark error: {type(ex).__name__}: {str(ex)[:300]}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows [{dt:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {type(ex).__name__}: {str(ex)[:300]}")
            n_fail += 1
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        sm = multiset([tuple(r) for r in srows], scols)
        dm = multiset(drows, dcols)
        ok_vals = sm == dm
        if ok_cols and ok_count and ok_vals:
            print(f"PASS {name}: {len(srows)} rows [{dt:.1f}s]")
            n_pass += 1
        else:
            print(
                f"FAIL {name}: cols {ok_cols} ({scols} vs {dcols}) "
                f"count {ok_count} ({len(srows)} vs {len(drows)}) vals {ok_vals}"
            )
            if not ok_vals and ok_count:
                diff = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
                for a, b in diff:
                    print(f"   spark: {a}\n   duck : {b}")
            n_fail += 1
    print(f"\n{n_pass} PASS / {n_fail} FAIL")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
