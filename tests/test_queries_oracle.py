"""Every registered query must pass ``oracle.check`` against its DuckDB
oracle at sf0.001 (the driver re-checks at sf0.01 — same semantics,
more rows). The check covers canonical final columns, the column-name
set, the row count, exact values and pandas dtype classes. Each query
is built and executed once: ``test_output_canonical`` reads its parts
of the same memoized record (the ``query_check`` fixture).
"""

from __future__ import annotations

import pytest

from football_etl_pipeline_spark.operators import QUERIES


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, query_check):
    rec = query_check(name)
    assert rec["status"] == "ok", f"{name}: {rec['err']}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_registry_consistency():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) == set(qs)
    assert len(qs) > 0
