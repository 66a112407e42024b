"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, compares row count, schema width, and an
order-insensitive value hash (stringified, column-name-sorted, row-sorted).

Usage: python tools/check_oracle.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from neural_search_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(_norm(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for r in canon:
        h.update(("|".join(r) + "\n").encode())
    return h.hexdigest()


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 6))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def main(sf_dir: str = "/root/testdata/sf0.01", only: str | None = None) -> int:
    spark = get_spark(app_name="check-oracle", master="local[4]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    if only:
        names = set(only.split(","))
        qs = {k: v for k, v in qs.items() if k in names}
    sqls = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        try:
            res = con.execute(sqls[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE SQL ERROR: {e}")
            failures += 1
            continue
        ok_count = len(srows) == len(drows)
        ok_schema = sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols)
        sh = value_hash([c.lower() for c in scols], [tuple(r) for r in srows])
        dh = value_hash([c.lower() for c in dcols], drows)
        ok_hash = sh == dh
        status = "OK" if (ok_count and ok_schema and ok_hash) else "FAIL"
        print(f"{name}: {status} rows {len(srows)}/{len(drows)} schema={ok_schema} hash={ok_hash}")
        if status == "FAIL":
            failures += 1
            spark_sorted = sorted(tuple(r) for r in srows)[:5]
            duck_sorted = sorted(drows)[:5]
            print("  spark:", scols, spark_sorted)
            print("  duck :", dcols, duck_sorted)
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
