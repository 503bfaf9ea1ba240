"""Command-line form of the correctness gate at a chosen scale factor.

Runs every `__spark_entry__.queries()` entry on Spark AND its
`oracle_sql()` DuckDB mirror, and compares row count, column names
(sorted) and `__spark_entry__.digest` — the same gate
(`__spark_entry__.oracle_gate`) as `tests/test_entry_oracle.py`.

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
    bad = []
    with entry.oracle_gate(spark, sf_dir) as check:
        for name in entry.queries():
            if only and name not in only:
                continue
            try:
                mismatch = check(name)
            except duckdb.Error as e:
                bad.append((name, f"oracle err: {e}"))
                print(f"{name}: ORACLE ERROR {e}")
                continue
            except Exception as e:  # noqa: BLE001
                bad.append((name, f"spark err: {e}"))
                print(f"{name}: SPARK ERROR {e}")
                continue
            print(f"{name}: {'FAIL ' + mismatch if mismatch else 'OK'}")
            if mismatch:
                bad.append((name, "mismatch"))
    spark.stop()
    print(json.dumps({"bad": bad}))
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
