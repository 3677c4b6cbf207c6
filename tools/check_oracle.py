"""Local driver-mimic: run every queries() entry on Spark and its
oracle_sql() on DuckDB at sf0.01; compare row count, column names, and an
order-insensitive value hash (rows sorted by all columns, stringified).

Usage: python tools/check_oracle.py [sf_dir] [--strict] [query ...]

``--strict`` (VERDICT r6 #2): canonicalize floats with FULL repr instead
of the default 9-digit rounding — at least as strict as any driver canon,
so a cross-engine last-ulp divergence on an unrounded DOUBLE column
(the r6 driver-red class) FAILS here instead of being masked.
"""
from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


STRICT = False  # --strict: full-repr float canon (no 9-digit rounding)


def canon(val):
    import datetime
    import math
    if val is None:
        return "NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        if val == int(val) and abs(val) < 1e15:
            return str(int(val))
        return repr(val) if STRICT else repr(round(val, 9))
    if isinstance(val, bool):
        return str(bool(val)).lower()
    if isinstance(val, datetime.datetime):
        return val.strftime("%Y-%m-%d %H:%M:%S.%f")
    try:
        import decimal
        if isinstance(val, decimal.Decimal):
            return canon(float(val))
    except Exception:
        pass
    return str(val)


def table_digest(cols, rows):
    import hashlib
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def duckdb_views(sf_dir):
    """A DuckDB connection with one view per ``TABLES`` parquet file of
    ``sf_dir``, the names every ``oracle_sql()`` twin reads."""
    import duckdb
    import __spark_entry__ as entry
    con = duckdb.connect()
    for t in entry.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def main():
    global STRICT
    args = [a for a in sys.argv[1:] if a != "--strict"]
    STRICT = "--strict" in sys.argv[1:]
    if STRICT:
        print("# STRICT canon: full float repr (no 9-digit rounding)")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entry
    from docext_spark.session import get_spark

    spark = get_spark()
    con = duckdb_views(sf_dir)

    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(srows)} rows, cols={scols} "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        ok_count = len(srows) == len(drows)
        ok_schema = sorted(scols) == sorted(dcols)
        ok_hash = (table_digest(scols, srows) == table_digest(dcols, drows)
                   if ok_count and ok_schema else False)
        if ok_count and ok_schema and ok_hash:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL {name}: rows {len(srows)}/{len(drows)} schema "
                  f"{sorted(scols)} vs {sorted(dcols)} hash={ok_hash}")
            if ok_count and ok_schema:
                # print first differing rows
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted(tuple(canon(r[i]) for i in order_s) for r in srows)
                ld = sorted(tuple(canon(r[i]) for i in order_d) for r in drows)
                for a, b in zip(ls, ld):
                    if a != b:
                        print("  spark :", a)
                        print("  duckdb:", b)
                        break
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
