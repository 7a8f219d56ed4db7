"""Profile the driver-style correctness sweep: per-query wall time.

Mimics the driver: for each name of ``__spark_entry__.queries()``, in the
driver's sweep order, run the Spark query at sf0.01 and collect, then run
the ``oracle_sql()`` DuckDB oracle (if any). Prints per-query seconds
sorted descending so we can attack the slowest entries. ``first_n``
profiles the first n names; 50 is the driver's per-round window.

Usage: python tools/profile_sweep.py [first_n]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e
from empdia_iceberg_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> None:
    first_n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    oracles = e.oracle_sql()
    times: list[tuple[str, float, float]] = []
    for name, fn in list(e.queries().items())[:first_n]:
        t0 = time.time()
        try:
            df = fn(get_spark(), SF_DIR)
            df.collect()
        except Exception as exc:  # noqa: BLE001
            print(f"SPARK FAIL {name}: {exc}")
        t_spark = time.time() - t0
        t0 = time.time()
        if name in oracles:
            try:
                con.execute(oracles[name]).fetchall()
            except Exception as exc:  # noqa: BLE001
                print(f"ORACLE FAIL {name}: {exc}")
        t_duck = time.time() - t0
        times.append((name, t_spark, t_duck))
        print(f"{name:40s} spark={t_spark:7.2f}s duck={t_duck:6.2f}s", flush=True)

    print("\n=== slowest ===")
    for name, ts, td in sorted(times, key=lambda x: -(x[1] + x[2]))[:15]:
        print(f"{name:40s} total={ts + td:7.2f}s")
    print(f"\nTOTAL: {sum(ts + td for _, ts, td in times):.1f}s over {len(times)} queries")


if __name__ == "__main__":
    main()
