"""Command-line form of the correctness gate at a chosen scale factor.

Runs every `__spark_entry__.queries()` entry on Spark AND its
`oracle_sql()` DuckDB mirror, and compares row count, column names
(sorted) and `__spark_entry__.digest` — the same protocol as
`tests/test_entry_oracle.py`.

Usage:  python jobs/oracle_sweep.py [sf_dir] [query ...]
        (default sf_dir /root/testdata/sf0.01; no query args = all)
"""
from __future__ import annotations

import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from zhtml_spark.pipeline import build_session

    spark = build_session("oracle-sweep")
    con = duckdb.connect()
    for t in entry.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry.queries()
    oracles = entry.oracle_sql()
    bad = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            bad.append((name, f"spark err: {e}"))
            print(f"{name}: SPARK ERROR {e}")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            bad.append((name, f"oracle err: {e}"))
            print(f"{name}: ORACLE ERROR {e}")
            continue
        rows_ok = len(srows) == len(orows)
        schema_ok = sorted(scols) == sorted(ocols)
        hash_ok = schema_ok and (
            entry.digest(srows, scols) == entry.digest(orows, ocols)
        )
        status = "OK" if (rows_ok and schema_ok and hash_ok) else "FAIL"
        print(
            f"{name}: {status} rows={len(srows)}/{len(orows)} "
            f"schema={schema_ok} hash={hash_ok}"
        )
        if status == "FAIL":
            bad.append((name, "mismatch"))
    spark.stop()
    print(json.dumps({"bad": bad}))
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
