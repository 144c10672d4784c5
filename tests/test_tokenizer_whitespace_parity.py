"""Hostile-whitespace tokenizer parity (ADVICE r7): the house TOKENS
contract and every oracle use SQL ``trim()``, which strips ONLY
spaces — so a document with a leading/trailing tab or newline must
tokenize identically on the Python/Arrow side (strip(' ') /
pc.utf8_trim(characters=' ')), yielding the same leading empty token
both engines produce. The sf corpora contain no such documents, so
this fixture is the only executable pin."""

from __future__ import annotations

import duckdb
import pytest

from football_etl_pipeline_spark.operators import ORACLES, QUERIES
from football_etl_pipeline_spark.oracle import check

HOSTILE = [
    (1, "\tleading tab then words"),
    (2, "trailing newline\n"),
    (3, "  double space  padded  "),
    (4, "\n\nleading newlines"),
    (5, "inner\ttab and\nnewline tokens"),
    (6, ""),
    (7, " \t "),  # space-trim leaves "\t" → one run → ['', ''] ambiguity pin
    (8, "plain words no hostility"),
    (9, " nbsp is not ascii whitespace"),
    (10, "mixed \t\n runs \f between \v words"),
]


@pytest.fixture(scope="module")
def hostile_sf_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("hostile_docs")
    spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in HOSTILE],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def hostile_duck(hostile_sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
        f"'{hostile_sf_dir}/documents.parquet/*.parquet'"
    )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name", ["udtf_chunk_documents", "maparrow_token_stats"]
)
def test_python_tokenizers_match_oracle_on_hostile_whitespace(
    name, spark, hostile_sf_dir, hostile_duck
):
    rec = check(
        spark, hostile_duck, lambda: QUERIES[name](spark, hostile_sf_dir), ORACLES[name]
    )
    assert rec["status"] == "ok", rec["err"]


def test_udtf_arrow_path_matches_row_path(spark, hostile_sf_dir):
    """Spark 4's Arrow-optimized Python UDTF execution
    (spark.sql.execution.pythonUDTF.arrow.enabled) must produce the
    SAME rows as the default pickled-row path — same hostile corpus,
    config flipped, multiset-equal output. Pins that the chunker's
    semantics don't depend on the serialization lane."""
    from football_etl_pipeline_spark.operators import QUERIES

    key = "spark.sql.execution.pythonUDTF.arrow.enabled"
    old = spark.conf.get(key, "false")
    base = {
        tuple(r) for r in QUERIES["udtf_chunk_documents"](
            spark, hostile_sf_dir
        ).collect()
    }
    try:
        spark.conf.set(key, "true")
        arrow = {
            tuple(r) for r in QUERIES["udtf_chunk_documents"](
                spark, hostile_sf_dir
            ).collect()
        }
    finally:
        spark.conf.set(key, old)
    assert arrow == base
