"""Pins the fence-metric plan walk on a tiny plan.

Run with:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import pathlib
import sys

import pytest

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE.parent.parent))

import plan_metrics  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    os.environ["PYSPARK_PYTHON"] = sys.executable
    s = (
        SparkSession.builder.master("local[2]")
        .appName("plan-metrics-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_walk_reads_fence_through_query_stage(spark):
    import pyspark.sql.functions as F

    # no type hints: under postponed annotations they are strings, which
    # pandas_udf cannot read
    @F.pandas_udf("long")
    def plus_one(s):
        return s + 1

    # the shuffle puts the fence inside a query stage of the AQE plan
    df = (
        spark.range(0, 10, 1, 2)
        .select(plus_one("id").alias("x"))
        .groupBy((F.col("x") % 2).alias("k"))
        .count()
    )
    assert sorted(r["count"] for r in df.collect()) == [5, 5]
    m = plan_metrics.fence_metrics(df)
    assert set(m) == set(plan_metrics.FENCE_METRICS.values())
    assert m["python_rows_received"] == 10
    assert m["python_data_sent_mb"] > 0
    assert m["python_data_received_mb"] > 0
    assert m["python_total_s"] > 0


def test_plan_without_fence_raises(spark):
    df = spark.range(4).selectExpr("id * 2 AS y")
    df.collect()
    with pytest.raises(LookupError):
        plan_metrics.fence_metrics(df)
