"""Registry-wide output-canonicalization gate.

The driver's correctness harness canonicalizes both the Spark and the
DuckDB result through a pandas frame (sort + value-hash). Two output
shapes break that canonicalizer even when the values are exact:

- ``DecimalType`` final columns: Spark returns ``decimal.Decimal``
  cells while DuckDB's pandas client returns ``float64`` — the value
  hashes diverge although a strict cell compare matches.
- ``ArrayType`` / ``MapType`` / ``StructType`` final columns: pandas
  cannot hash list cells (``TypeError: unhashable type: 'list'``).

A column that is int64 on one side and float64 on the other hashes
differently too, even when every value matches.

Both rules are part of ``oracle.check``; these tests assert them per
query from the same memoized record ``test_queries_oracle`` asserts
(the ``query_check`` fixture), so no query is built a second time.
"""

from __future__ import annotations

import pytest

from football_etl_pipeline_spark.operators import QUERIES
from football_etl_pipeline_spark.oracle import DTYPE_PROBLEM, SCHEMA_PROBLEM


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_final_schema_is_scalar_non_decimal(name, query_check):
    rec = query_check(name)
    assert rec["rows"] is not None, f"{name}: {rec['err']}"
    assert SCHEMA_PROBLEM not in (rec["err"] or ""), f"{name}: {rec['err']}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_pandas_dtype_class_parity(name, query_check):
    rec = query_check(name)
    err = rec["err"] or ""
    assert rec["rows"] is not None and "duckdb error" not in err, f"{name}: {err}"
    assert DTYPE_PROBLEM not in err, f"{name}: {err}"
