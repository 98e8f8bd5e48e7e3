"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and, when an oracle exists, the
matching SQL on DuckDB over the same parquet; compares row count, column
names, and order-insensitive values (exact after string normalization).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(v):
    import datetime
    import decimal
    import math

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, list):
        return "[" + ",".join(normalize(x) for x in v) + "]"
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(normalize(vals[i]) for i in order))
    return sorted(cols), sorted(out)


def retarget(sql: str, sf_dir: str) -> str:
    """The fixture-replay oracles bake the DRIVER gate's sf0.01 fixture
    path into their static SQL (per-sf paths). The driver always runs at
    sf0.01; when checking another scale, point the SQL at that scale's
    fixture so the replay stays engine-run-fresh instead of failing."""
    sf_name = Path(sf_dir.rstrip("/")).name
    return sql.replace("/tmp/dps_fixture/sf0.01/", f"/tmp/dps_fixture/{sf_name}/")


def main() -> int:
    import duckdb

    from data_profiler_spark.core.session import get_spark_session
    from data_profiler_spark import queries as Q

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark_session(app_name="oracle_check", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = Q.queries()
    oracles = Q.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{spark_s:.1f}s]")
            n_rows_only += 1
            continue
        try:
            res = con.sql(retarget(oracles[name], sf_dir))
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        sc, sr = canon_rows(scols, srows)
        dc, dr = canon_rows(dcols, drows)
        if sc != dc:
            print(f"FAIL  {name}: columns differ spark={sc} duck={dc}")
            n_fail += 1
        elif len(sr) != len(dr):
            print(f"FAIL  {name}: row count spark={len(sr)} duck={len(dr)}")
            n_fail += 1
        elif sr != dr:
            diffs = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b][:3]
            print(f"FAIL  {name}: values differ; first diffs:")
            for i in diffs:
                print(f"        spark={sr[i]}")
                print(f"        duck ={dr[i]}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(sr)} rows [{spark_s:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
