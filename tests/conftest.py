from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from football_etl_pipeline_spark.session import get_spark

    # Small core count keeps per-test overhead low; semantics identical.
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from football_etl_pipeline_spark.oracle import make_duck

    con = make_duck(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def query_check(spark, sf_dir, duck):
    """``oracle.check`` for a registered query, memoized for the session.
    The registry-wide tests each assert their part of the same record,
    so every query is built and executed once per tier-1 run."""
    from football_etl_pipeline_spark.operators import ORACLES, QUERIES
    from football_etl_pipeline_spark.operators.registry import release_checkpoints
    from football_etl_pipeline_spark.oracle import check

    records: dict[str, dict] = {}

    def get(name: str) -> dict:
        if name not in records:
            try:
                records[name] = check(
                    spark, duck, lambda: QUERIES[name](spark, sf_dir), ORACLES[name]
                )
            finally:
                release_checkpoints(spark)
        return records[name]

    return get
