from __future__ import annotations

import pytest

# Python physical operators of a Spark 4 plan: the EvalPython family
# (Batch/Arrow scalar UDFs and UDTFs), the map/flatMap *InPandas and
# *InArrow stages, and grouped-aggregate/window Arrow UDFs.
PYTHON_PLAN_NODES = (
    "EvalPython",
    "InPandas",
    "InArrow",
    "AggregatePython",
    "WindowPython",
)


def assert_jvm_only(plan: str) -> None:
    """Fail when an executed-plan string holds any Python stage."""
    found = [n for n in PYTHON_PLAN_NODES if n in plan]
    assert not found, f"Python stage {found} in a JVM-only plan:\n{plan}"


@pytest.fixture(scope="session")
def spark():
    from zhtml_spark.pipeline import build_session

    s = build_session(app="zhtml-spark-tests", cores=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
