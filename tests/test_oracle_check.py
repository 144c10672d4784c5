"""Planted defects: ``oracle.check`` must fail each one and name the
reason in ``err``. Small in-memory frames on the Spark side, a small
DuckDB table or literal query on the other."""

from __future__ import annotations

from decimal import Decimal

import duckdb
import pytest

from football_etl_pipeline_spark.oracle import check


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute("CREATE TABLE t(v BIGINT)")
    c.execute("INSERT INTO t VALUES (1), (2)")
    yield c
    c.close()


def _check(spark, con, rows, ddl, sql):
    return check(spark, con, lambda: spark.createDataFrame(rows, ddl), sql)


@pytest.mark.parametrize(
    "rows, sql",
    [
        ([(3, 0.5, "x")], "SELECT SUM(v)::BIGINT AS s, 0.5::DOUBLE AS f, 'x' AS c FROM t"),
        ([], "SELECT v AS s, 0.5::DOUBLE AS f, 'x' AS c FROM t WHERE v < 0"),
    ],
    ids=["one_row", "empty"],
)
def test_matching_pair_is_ok(spark, con, rows, sql):
    rec = _check(spark, con, rows, "s long, f double, c string", sql)
    assert rec["status"] == "ok", rec["err"]
    assert rec["rows"] == len(rows)


@pytest.mark.parametrize(
    "rows, ddl, sql, reason",
    [
        pytest.param(
            [(Decimal("1.50"),)], "x decimal(10,2)", "SELECT 1.5::DOUBLE AS x",
            "decimal(10,2)", id="decimal_final_column",
        ),
        pytest.param(
            # values match ("3" == "3") but SUM(BIGINT) is HUGEINT, which
            # pandas renders as float64 while Spark's long is int64
            [(3,)], "s long", "SELECT SUM(v) AS s FROM t",
            "dtype", id="int_vs_float_dtype_class",
        ),
        pytest.param(
            [(0.1 + 0.2,)], "f double", "SELECT 0.3::DOUBLE AS f",
            "values", id="float_last_bit",
        ),
        pytest.param(
            [(1,)], "a long", "SELECT 1::BIGINT AS b",
            "schema", id="column_name_mismatch",
        ),
        pytest.param(
            [(1,), (1,)], "a long", "SELECT 1::BIGINT AS a",
            "rowcount", id="row_count_mismatch",
        ),
        pytest.param(
            [(1, None), (2, None), (3, 1.5)], "k long, d double",
            "SELECT * FROM (VALUES (1, NULL::DECIMAL(10,2)), (2, NULL), "
            "(3, 1.5::DECIMAL(10,2))) v(k, d)",
            "Decimal", id="duck_decimal_behind_nulls",
        ),
    ],
)
def test_planted_defect_fails_with_reason(spark, con, rows, ddl, sql, reason):
    rec = _check(spark, con, rows, ddl, sql)
    assert rec["status"] == "fail"
    assert reason in rec["err"], rec["err"]
