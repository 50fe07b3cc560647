#!/usr/bin/env python
"""Standalone replica of the driver's correctness gate at an arbitrary
scale factor (default sf0.01, the scale the driver grades at — the pytest
replica in tests/test_queries_oracle.py runs at sf0.001 for speed). Runs
every ``__spark_entry__.queries()`` entry against its DuckDB
``oracle_sql()`` twin and reports each mismatch (columns, row count,
dtype, values) through the same canonicalizer as the pytest replica.

Run: python tools/oracle_check.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as em
    from tests.test_queries_oracle import TABLES, _mismatch

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.driver.memory", "12g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'"
        )

    qs, oracles = em.queries(), em.oracle_sql()
    bad = []
    for name in sorted(qs):
        try:
            spdf = qs[name](spark, sf_dir).toPandas()
            dpdf = con.sql(oracles[name]).df()
            why = _mismatch(spdf, dpdf)
            if why is not None:
                bad.append(name)
            print(f"{'OK' if why is None else 'FAIL':4} {name:32} "
                  f"rows={len(spdf)}/{len(dpdf)} {why or ''}")
        except Exception as exc:  # noqa: BLE001 - report and continue
            bad.append(name)
            print(f"ERR  {name:32} {type(exc).__name__}: {str(exc)[:120]}")
    print(f"\n{len(qs) - len(bad)}/{len(qs)} queries match at {sf_dir}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
