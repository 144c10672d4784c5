"""Regression tests for the PII-redaction regex path.

The bug class: interpolating EMAIL_RE into a Spark SQL string literal
(``F.expr(f"regexp_extract_all(txt, '{EMAIL_RE}', 0)")``) lets the SQL
parser unescape ``\\.`` to a bare ``.``, so the COUNTING regex ran with
a wildcard dot while the REDACTION regex (column API) kept the literal
dot. On the synthetic corpus (no '@' outside injected PII) they agreed
by luck; on any text like ``'u1@ab cd'`` the wildcard dot matches the
space and the counts diverge from both the redaction and the oracle.
"""

from __future__ import annotations

from football_etl_pipeline_spark.operators.profiling import pii_stats


def _stats(spark, txt: str):
    df = spark.createDataFrame([("s", txt)], "source string, txt string")
    return pii_stats(df).collect()[0]


def test_at_sign_without_dot_domain_is_not_an_email(spark):
    # wildcard-dot would match 'u1@ab cd' (dot eats the space)
    row = _stats(spark, "reach u1@ab cd today")
    assert row["n_email"] == 0
    assert row["chars_removed"] == 0


def test_wellformed_email_counted_and_redacted_consistently(spark):
    row = _stats(spark, "reach u1@example.com today")
    assert row["n_email"] == 1
    # 'u1@example.com' (14 chars) -> '<EMAIL>' (7 chars)
    assert row["chars_removed"] == 14 - 7


def test_count_matches_redaction_on_mixed_corpus(spark):
    # one real email, one @ without a dot domain, one phone
    row = _stats(spark, "a@b.c x@y z call 555-1234")
    assert row["n_email"] == 1
    assert row["n_phone"] == 1
    # 'a@b.c'(5)->'<EMAIL>'(7): -2; '555-1234'(8)->'<PHONE>'(7): +1
    assert row["chars_removed"] == (5 - 7) + (8 - 7)


HOSTILE_DOCS = [
    # THE counterexample: '@' with a space where wildcard-dot matches
    ("s1", "reach u1@ab cd today"),
    # adjacent PII, boundary shapes, doubled '@', trailing dot
    ("s1", "a@b.c x@y z call 555-1234"),
    ("s2", "email a@@b.com or b@c. or c@d.e."),
    ("s2", "numbers 555-12345 5555-1234 x555-0000"),
    ("s3", ""),
    ("s3", "u2@example.com u3@example.com 555-0001 555-0002"),
]


def test_spark_and_duckdb_agree_on_hostile_corpus(spark):
    """End-to-end engine agreement on the hostile fixture — pins the
    whole ``pii_stats`` contract against BOTH engines so a future
    oracle edit reintroducing SQL-literal interpolation (the
    backslash-eating bug class) fails here, not in the driver gate.
    Red on the pre-fix code: the F.expr path counted 'u1@ab cd' as an
    email (wildcard dot) while DuckDB did not."""
    import duckdb

    from football_etl_pipeline_spark.operators.profiling import (
        EMAIL_RE,
        PHONE_RE,
    )
    from football_etl_pipeline_spark.oracle import check

    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE hostile(source VARCHAR, txt VARCHAR)"
    )
    duck.executemany(
        "INSERT INTO hostile VALUES (?, ?)", HOSTILE_DOCS
    )
    rec = check(
        spark,
        duck,
        lambda: pii_stats(
            spark.createDataFrame(HOSTILE_DOCS, "source string, txt string")
        ),
        f"""
        SELECT source,
               len(regexp_extract_all(txt, '{EMAIL_RE}')) AS n_email,
               len(regexp_extract_all(txt, '{PHONE_RE}')) AS n_phone,
               (length(txt) - length(
                  regexp_replace(
                    regexp_replace(txt, '{EMAIL_RE}', '<EMAIL>', 'g'),
                    '{PHONE_RE}', '<PHONE>', 'g')))::INT AS chars_removed
        FROM hostile
        """,
    )
    assert rec["status"] == "ok", rec["err"]
