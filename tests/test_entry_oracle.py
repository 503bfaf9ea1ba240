"""The correctness gate: every ``queries()`` entry runs on Spark AND as
its ``oracle_sql()`` on DuckDB at sf0.001; the two results must agree
on row count, sorted column names and ``digest``."""

from __future__ import annotations

import importlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

entry_mod = importlib.import_module("__spark_entry__")


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert {"doc_id", "offset", "kind", "text", "media_ref"} <= set(df.columns)


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, oracle, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    got = [tuple(r) for r in sdf.collect()]
    cur = oracle.execute(entry_mod.oracle_sql()[name])
    ocols = [d[0] for d in cur.description]
    want = cur.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    assert entry_mod.digest(got, sdf.columns) == entry_mod.digest(
        want, ocols
    ), f"{name}: value mismatch"
