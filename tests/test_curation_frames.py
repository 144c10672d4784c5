"""Full-row oracle checks of the doc-level curation frames.

``text_curation_report``, ``crossmodal_paired_curation`` and the two
mixture queries all read ``curation_doc_verdicts`` (the mixture keep
set is its all-pass rows), but the registry checks them only through
20-row per-source rollups, where two wrong rows can cancel. These
tests compare every row of the verdict frame and of the keep set
against their DuckDB CTE twins at sf0.01, through the same
``oracle.check`` the registry gate uses.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from football_etl_pipeline_spark.operators.registry import release_checkpoints
from football_etl_pipeline_spark.operators.textops import (
    _CURATION_VERDICT_CTES,
    _MIXTURE_KEPT_ORACLE_PREFIX,
    _mixture_kept,
    curation_doc_verdicts,
)
from football_etl_pipeline_spark.oracle import check, make_duck

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck01():
    con = make_duck(SF)
    yield con
    con.close()


def _check(spark, con, build, sql) -> dict:
    try:
        return check(spark, con, build, sql)
    finally:
        release_checkpoints(spark)


def test_curation_doc_verdicts_match_oracle_row_for_row(spark, duck01):
    cols = ["doc_id", "source", "pass_gopher", "pass_quality", "pass_dsir"]
    rec = _check(
        spark,
        duck01,
        lambda: curation_doc_verdicts(spark, SF).select(*cols),
        f"{_CURATION_VERDICT_CTES} SELECT {', '.join(cols)} FROM verdict",
    )
    assert rec["status"] == "ok", rec
    assert rec["rows"] > 0


def test_mixture_keep_set_matches_oracle_row_for_row(spark, duck01):
    rec = _check(
        spark,
        duck01,
        lambda: _mixture_kept(spark, SF)[0].select(
            "doc_id",
            "source",
            "n_tokens",
            F.col("logw").cast("double").alias("logw"),
        ),
        f"""{_MIXTURE_KEPT_ORACLE_PREFIX}
    SELECT doc_id, source, n_tokens, CAST(logw AS DOUBLE) AS logw
    FROM kept""",
    )
    assert rec["status"] == "ok", rec
    assert rec["rows"] > 0
