#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01, compares row count, sorted column names, and an
order-insensitive canonical value digest. Usage:

    python scripts/check_oracles.py [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

# override with e.g. SSP_ORACLE_SF_DIR=/root/testdata/sf0.1 for a
# larger-scale cross-check (the driver gate itself runs sf0.01)
SF_DIR = os.environ.get("SSP_ORACLE_SF_DIR", "/root/testdata/sf0.01")
# the checkout this script lives in — a copy of the repo gates itself
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def digest(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, len(lines)


def pandas_canon_digest(pdf) -> str:
    """Driver-style canonicalization: sort columns by name, pandas
    sort_values over every column (raises TypeError on unhashable cell
    values such as lists — exactly like the round-1 driver gate), then a
    repr-level value digest. Catches dtype-class mismatches (Decimal vs
    float) that the tuple-level ``digest`` normalizes away."""
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    lines = [
        "|".join(canon(v) for v in row) for row in pdf.itertuples(index=False)
    ]
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    sys.path.insert(0, REPO_ROOT)
    import __spark_entry__ as entry_mod
    from statefulstreamprocessor_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(sys.argv[1:])
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            t0 = time.perf_counter()
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            spdf = sdf.toPandas()
            wall = time.perf_counter() - t0
        except Exception as e:
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            # rows-only queries still go through the driver's pandas
            # canonicalization — an unhashable column crashes the gate
            try:
                pandas_canon_digest(spdf)
                print(
                    f"{name}: rows={len(srows)} (rows-only, no oracle) "
                    f"wall {wall:.2f}s"
                )
            except Exception as e:
                print(f"{name}: CANON ERROR {type(e).__name__}: {str(e)[:200]}")
                failures += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"{name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        sh, sn = digest(scols, srows)
        dh, dn = digest(dcols, drows)
        schema_ok = sorted(scols) == sorted(dcols)
        try:
            ph_s = pandas_canon_digest(spdf)
            # re-execute: fetchall() above consumed the result set
            ph_d = pandas_canon_digest(con.execute(oracles[name]).df())
            pandas_ok = ph_s == ph_d
        except Exception as e:
            print(f"{name}: CANON ERROR {type(e).__name__}: {str(e)[:200]}")
            pandas_ok = False
        ok = sn == dn and schema_ok and sh == dh and pandas_ok
        print(
            f"{name}: {'OK' if ok else 'MISMATCH'} rows {sn}/{dn} "
            f"schema {'ok' if schema_ok else f'{sorted(scols)} vs {sorted(dcols)}'} "
            f"hash {sh}/{dh} pandas {'ok' if pandas_ok else 'FAIL'} "
            f"wall {wall:.2f}s"
        )
        if not ok:
            failures += 1
            if sn == dn and schema_ok:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = sorted("|".join(canon(r[i]) for i in order) for r in srows)
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                dset = sorted("|".join(canon(r[i]) for i in order_d) for r in drows)
                diff = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
                for a, b in diff:
                    print(f"    spark:  {a[:200]}")
                    print(f"    duckdb: {b[:200]}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
