"""The correctness gate: every ``queries()`` entry runs on Spark AND as
its ``oracle_sql()`` on DuckDB at sf0.001; the two results must agree
on row count, sorted column names and ``digest``
(``__spark_entry__.oracle_gate``)."""

from __future__ import annotations

import ast
import importlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

entry_mod = importlib.import_module("__spark_entry__")


@pytest.fixture(scope="module")
def gate(spark):
    with entry_mod.oracle_gate(spark, SF_DIR) as check:
        yield check


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert {"doc_id", "offset", "kind", "text", "media_ref"} <= set(df.columns)


def test_registry_matches_oracles_and_q_functions():
    """Every query has an oracle and every oracle a query, and the
    registry is exactly the module's top-level ``_q_<name>`` functions."""
    qs = entry_mod.queries()
    assert set(qs) == set(entry_mod.oracle_sql())
    tree = ast.parse(open(entry_mod.__file__).read())
    defined = {
        node.name[len("_q_"):]: getattr(entry_mod, node.name)
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("_q_")
    }
    assert qs == defined


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(gate, name):
    mismatch = gate(name)
    assert mismatch is None, f"{name}: {mismatch}"
