"""``session.local_frame`` builds a small driver-side frame as an
Arrow-backed ``LocalRelation`` with exactly the declared schema, empty
or not, and collecting it fires no Spark job."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql.types import _parse_datatype_string

from football_etl_pipeline_spark.session import local_frame

DDL = "name string, tags array<string>, score double"


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"local_frame_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "local frame test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "rows",
    [
        [],
        [("a", ["x", "y"], 0.1), ("b", [], -2.5), (None, None, None)],
    ],
    ids=["empty", "rows"],
)
def test_local_frame_schema_rows_and_plan(spark, rows):
    df = local_frame(spark, rows, DDL)
    assert df.schema == _parse_datatype_string(DDL)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
    got, n = _jobs(spark, df.collect)
    assert n == 0
    assert [tuple(r) for r in got] == rows


def test_local_frame_takes_a_struct_type(spark):
    schema = _parse_datatype_string(DDL)
    df = local_frame(spark, [("a", ["x"], 1e18)], schema)
    assert df.schema == schema
    assert df.first()["score"] == 1e18
