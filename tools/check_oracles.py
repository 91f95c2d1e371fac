"""Simulate the driver's correctness gate: run every __spark_entry__
queries() entry and its oracle_sql() in DuckDB on the same parquet,
compare row count, column names, per-column types, and order-insensitive
values.

Types are compared strictly (the Spark schema against the DuckDB result's
Arrow schema mapped to Spark types): the gate hashes values, so an oracle
``sum`` that DuckDB widens to HUGEINT (``Decimal`` values) fails there
against Spark's BIGINT even though the numbers are equal.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
from pyspark.sql.pandas.types import from_arrow_type

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod  # noqa: E402
from parallel_pagerank_spark import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(srows)} rows, cols={scols}")
            continue
        try:
            tbl = con.execute(oracles[name]).fetch_arrow_table()
            ocols = tbl.column_names
            orows = [
                dict(zip(ocols, t)) for t in con.from_arrow(tbl).fetchall()
            ]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: cols spark={sorted(scols)} duck={sorted(ocols)}")
            failures += 1
            continue
        stypes = {f.name: f.dataType.simpleString() for f in sdf.schema}
        otypes = {
            f.name: from_arrow_type(f.type).simpleString() for f in tbl.schema
        }
        if stypes != otypes:
            diff = {
                c: (stypes[c], otypes[c])
                for c in scols
                if stypes[c] != otypes[c]
            }
            print(f"FAIL {name}: types (spark, duck) {diff}")
            failures += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rows spark={len(srows)} duck={len(orows)}")
            failures += 1
            continue
        a = normalize(srows, scols)
        b = normalize(orows, ocols)
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
            failures += 1
            continue
        print(f"OK   {name}: {len(srows)} rows")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
