"""Strict oracle/Spark type alignment audit.

The driver's value-hash is type-sensitive in ways verify_local's
normalizer is not (round-2 post-mortem: DuckDB ``sum(INTEGER)`` yields
HUGEINT, which pandas/arrow export turns into decimal128/float64 — the
values hash differently from Spark's BIGINT even though Python-level
``int`` comparison passes locally). This tool catches the whole class
without needing the driver: for every oracle it fetches the DuckDB
result as Arrow (exact types, null-proof) and compares each column's
type class against the Spark query's schema.

Flags:
- any DuckDB output column whose Arrow type is decimal128 (HUGEINT or
  DECIMAL arithmetic reached the output uncast)
- type-class mismatches between the oracle and the Spark twin
  (int vs float, string vs numeric, ...)

Usage: python tools/oracle_typecheck.py [sf_dir] [query ...]
Runs DuckDB-side always; Spark-side schema via a shared local session.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa

TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def _arrow_class(t: pa.DataType) -> str:
    if pa.types.is_decimal(t):
        return "DECIMAL"  # always a flag: HUGEINT/DECIMAL leaked to output
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + _arrow_class(t.value_type) + ">"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    return f"other({t})"


def _spark_class(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "DECIMAL"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.ArrayType):
        return "list<" + _spark_class(dt.elementType) + ">"
    if isinstance(dt, T.BinaryType):
        return "binary"
    return f"other({dt})"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from page_rank_hadoop_spark import get_spark

    spark = get_spark("oracle_typecheck")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES.split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    flagged = []
    for name in qs:
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            tbl = con.execute(oracles[name]).arrow()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:30s} duckdb error: {str(e)[:160]}")
            flagged.append(name)
            continue
        try:
            sschema = {f.name: _spark_class(f.dataType) for f in qs[name](spark, sf_dir).schema}
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:30s} spark error: {str(e)[:160]}")
            flagged.append(name)
            continue
        problems = []
        for field in tbl.schema:
            dc = _arrow_class(field.type)
            sc = sschema.get(field.name)
            if "DECIMAL" in dc:
                problems.append(f"{field.name}: oracle {field.type} (DECIMAL/HUGEINT leak)")
            elif sc is None:
                problems.append(f"{field.name}: missing on spark side")
            elif dc != sc:
                problems.append(f"{field.name}: oracle {dc} vs spark {sc}")
        for col, sc in sschema.items():
            if col not in tbl.schema.names:
                problems.append(f"{col}: missing on oracle side")
            elif sc == "DECIMAL":
                problems.append(f"{col}: spark DECIMAL output")
        if problems:
            print(f"FLAG  {name:30s} " + "; ".join(problems))
            flagged.append(name)
        else:
            print(f"ok    {name}")

    print(f"\n{len(flagged)} flagged" + (f": {flagged}" if flagged else ""))
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
