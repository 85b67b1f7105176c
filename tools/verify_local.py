"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given SF, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, values
normalized). Usage:

    python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _norm_cell(v):
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod
    from page_rank_hadoop_spark import get_spark

    spark = get_spark("verify_local")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:28s} spark error: {e}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"rows  {name:28s} rows={len(srows):7d} (no oracle; rows-only) {t_spark:5.1f}s")
            continue
        t0 = time.time()
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:28s} duckdb error: {str(e)[:200]}")
            failures.append(name)
            continue
        t_duck = time.time() - t0

        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            hs, hd = _hash_rows(scols, srows), _hash_rows(dcols, drows)
            if hs != hd:
                problems.append(f"value-hash {hs} vs {hd}")
                # show a diff sample
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                set_s = {"|".join(_norm_cell(r[i]) for i in order_s) for r in srows}
                set_d = {"|".join(_norm_cell(r[i]) for i in order_d) for r in drows}
                for x in list(set_s - set_d)[:3]:
                    print(f"        spark-only: {x[:160]}")
                for x in list(set_d - set_s)[:3]:
                    print(f"        duck-only : {x[:160]}")
        if problems:
            print(f"FAIL  {name:28s} {'; '.join(problems)}")
            failures.append(name)
        else:
            print(
                f"ok    {name:28s} rows={len(srows):7d} spark={t_spark:5.1f}s duck={t_duck:5.1f}s"
            )

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
