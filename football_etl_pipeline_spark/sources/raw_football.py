"""Raw landing-zone reader for the two football API payload shapes.

Layout parity: files are staged at
``{api}/season_{s}/league_{l}/{endpoint}/{run_id}_{date}.json``
(reference: ingestion/main.py:86,91,108-110). The group key
``"{season}-{league}"`` is re-derived from the path with the same
regex the reference uses (helpers.py:20), with the same ``"unknown"``
fallback for non-matching paths (helpers.py:22-23 keeps them, so do
we).

Spark-first: instead of per-group serial file reads inside a DoFn
(reference transforms.py:157-166), each endpoint is ONE parallel
scan with an explicit nested schema (no inference pass over the data)
and ``F.input_file_name()`` recovers provenance. Corrupt JSON is kept
(PERMISSIVE + corrupt-record column) so the whole group can be
dead-lettered, matching transforms.py:167-169.

At scale the landing zone would be written as ``api=…/season=…/
league=…/endpoint=…`` hive partitions and the regex disappears in
favor of partition pruning; the regex path is kept because the
reference's layout (`season_1-league_2` style dirs) is the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PK_REGEX = r"/season_(\d+)/league_(\d+)/"
CORRUPT_COL = "_corrupt_record"

# --- API-Football: top-level JSON arrays --------------------------------
# FIXTURES.md §1-2; consumed at reference transforms.py:32-46.

APIFOOTBALL_TEAM = T.StructType(
    [
        T.StructField("team_key", T.StringType()),
        T.StructField("team_name", T.StringType()),
        T.StructField("team_country", T.StringType()),
        T.StructField(
            "venue",
            T.StructType(
                [
                    T.StructField("venue_name", T.StringType()),
                    T.StructField("venue_city", T.StringType()),
                ]
            ),
        ),
    ]
)

# All numeric stats arrive as STRINGS (real API behavior; the INTEGER
# cast in enforcement normalizes them — FIXTURES.md §2).
APIFOOTBALL_STANDING = T.StructType(
    [
        T.StructField("team_id", T.StringType()),
        T.StructField("team_name", T.StringType()),
        T.StructField("league_id", T.StringType()),
        T.StructField("league_name", T.StringType()),
        T.StructField("overall_league_position", T.StringType()),
        T.StructField("overall_league_PTS", T.StringType()),
        # sic: upstream API really spells it "payed" (transforms.py:58)
        T.StructField("overall_league_payed", T.StringType()),
        T.StructField("overall_league_W", T.StringType()),
        T.StructField("overall_league_D", T.StringType()),
        T.StructField("overall_league_L", T.StringType()),
        T.StructField("overall_league_GF", T.StringType()),
        T.StructField("overall_league_GA", T.StringType()),
        T.StructField("overall_league_form", T.StringType()),
    ]
)

# --- API-Sports: top-level object with `response` array ----------------
# FIXTURES.md §3-4; consumed at reference transforms.py:75-100.

APISPORTS_TEAMS = T.StructType(
    [
        T.StructField(
            "response",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "team",
                            T.StructType(
                                [
                                    T.StructField("id", T.LongType()),
                                    T.StructField("name", T.StringType()),
                                    T.StructField("country", T.StringType()),
                                ]
                            ),
                        ),
                        T.StructField(
                            "venue",
                            T.StructType(
                                [
                                    T.StructField("name", T.StringType()),
                                    T.StructField("city", T.StringType()),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)

_APISPORTS_STANDING_ROW = T.StructType(
    [
        T.StructField("rank", T.LongType()),
        T.StructField(
            "team",
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("name", T.StringType()),
                ]
            ),
        ),
        T.StructField("points", T.LongType()),
        T.StructField("goalsDiff", T.LongType()),
        T.StructField("form", T.StringType()),
        T.StructField(
            "all",
            T.StructType(
                [
                    T.StructField("played", T.LongType()),
                    T.StructField("win", T.LongType()),
                    T.StructField("draw", T.LongType()),
                    T.StructField("lose", T.LongType()),
                    T.StructField(
                        "goals",
                        T.StructType(
                            [
                                T.StructField("for", T.LongType()),
                                T.StructField("against", T.LongType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
    ]
)

APISPORTS_STANDINGS = T.StructType(
    [
        T.StructField(
            "response",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "league",
                            T.StructType(
                                [
                                    T.StructField("id", T.LongType()),
                                    T.StructField("name", T.StringType()),
                                    T.StructField("season", T.LongType()),
                                    # array-of-arrays: response[0].league.standings[0][]
                                    T.StructField(
                                        "standings",
                                        T.ArrayType(
                                            T.ArrayType(_APISPORTS_STANDING_ROW)
                                        ),
                                    ),
                                ]
                            ),
                        )
                    ]
                )
            ),
        )
    ]
)


def with_group_pk(df: DataFrame) -> DataFrame:
    """T2 parity: derive the season-league group key from the file path
    (helpers.py:8-27), 'unknown' when the pattern misses."""
    path = F.input_file_name()
    season = F.regexp_extract(path, PK_REGEX, 1)
    league = F.regexp_extract(path, PK_REGEX, 2)
    pk = F.when(season == "", F.lit("unknown")).otherwise(
        F.concat_ws("-", season, league)
    )
    return df.withColumn("_path", path).withColumn("group_pk", pk)


def _read_json(spark: SparkSession, paths: list[str], schema: T.StructType) -> DataFrame:
    # NB: StructType.add mutates self — build a fresh copy instead.
    reader_schema = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    return (
        spark.read.schema(reader_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("multiLine", "true")  # payloads are pretty-printed API dumps
        .json(paths)
    )


def read_endpoint(
    spark: SparkSession, paths: list[str], schema: T.StructType
) -> DataFrame:
    """Read one endpoint's files: explicit schema, corrupt records kept,
    path + group_pk columns attached.

    Cached: Spark refuses corrupt-record-only projections over raw JSON
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) unless the
    parsed rows are materialized first, and the pipeline's one group
    verdict collect reads this four times (corrupt routing, the
    guards, the normalize join, the enforced cache); the load then
    reads the cached enforced frame, not this. A run's landing files
    are small (BASELINE.md: KBs/run; bulk backfills arrive via
    parquet) so the cache is cheap.

    Filled here, in one job (a ``noop`` write scans the whole cached
    plan). Left lazy, each of those readers is its own AQE cache
    stage, and every stage planned before another had finished
    loading the cache fired its own fill job: on one input the
    verdict collect fired 17 to 20 jobs, by timing alone."""
    df = with_group_pk(_read_json(spark, paths, schema)).cache()
    df.write.format("noop").mode("overwrite").save()
    return df


def split_paths(paths: list[str]) -> tuple[list[str], list[str], list[str]]:
    """Type routing by path substring, verbatim semantics of
    transforms.py:163-166 ('teams/' vs 'standings/'; anything else is
    silently ignored by the reference — we surface it)."""
    teams = [p for p in paths if "teams/" in p]
    standings = [p for p in paths if "standings/" in p]
    other = [p for p in paths if p not in teams and p not in standings]
    return teams, standings, other
