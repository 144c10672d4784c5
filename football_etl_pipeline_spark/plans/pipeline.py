"""The composed reference-parity pipeline (E2 equivalent):

    read raw JSON → derive group key from path → normalize+join per
    API → enforce schema → decide each group once → write.

Reference DAG: Create → Map(extractPk) → GroupByKey →
ProcessFilesDoFn.with_outputs → [BigQuery | dead-letter text]
(/root/reference/dataflow-flex/football_pipeline/pipeline.py:34-63).

Spark plan: NO GroupByKey shuffle over rows — the group key is derived
per-row from the file path and the joins are broadcast (teams side is
~20 rows/group). The group verdicts (at most one error per
season-league group, over group keys: hundreds, not rows) are
aggregated and collected ONCE, while the transform is built, over the
cached enforced frame. The driver already holds every group's file
list, so the dead-letter frame is a driver-side ``LocalRelation``
(its actions re-read nothing), and the good rows are one filter on the
failed keys over the cached frame — a pure scan→broadcast-join→project
job at the load. At 100 TB of landing files the load scales linearly
with input bytes; the driver holds one verdict per failed group.

Group-level failure parity (transforms.py:180-184): ONE bad record
(or one corrupt file, or one failed guard) dead-letters its whole
season-league group: {"PK": group, "files": [...], "error": msg} —
while other groups in the same run land normally.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources import raw_football as raw
from .enforce import ERROR_COL, enforce_schema
from .structlog import etl_event
from .transforms import TRANSFORM_MAP
from .unified_schema import UNIFIED_SCHEMA_V1, ParsedSchema, parse_schema

RAW_SCHEMAS = {
    "apifootball": (raw.APIFOOTBALL_TEAM, raw.APIFOOTBALL_STANDING),
    "apisports": (raw.APISPORTS_TEAMS, raw.APISPORTS_STANDINGS),
}


DEAD_LETTER_DDL = "PK string, files array<string>, error string"


@dataclass
class TransformResult:
    good: DataFrame         # unified schema columns, ready to load
    dead_letter: DataFrame  # {"PK", "files", "error"} — one row per failed group
    dropped: DataFrame      # probe-miss standings rows (logged skips, not failures)
    cached: tuple[DataFrame, ...] = ()  # frames run_transform cached
    # driver-held run facts: group -> its sorted input files, and
    # failed group -> its error (the dead-letter rows)
    groups: dict[str, list[str]] = field(default_factory=dict)
    verdicts: dict[str, str] = field(default_factory=dict)

    def release(self) -> None:
        """Unpersist the frames ``run_transform`` cached, once the
        results are written. A stream calls this per micro-batch, or
        every batch's caches outlive it for the life of the stream."""
        for df in self.cached:
            df.unpersist()

    def log_run(
        self, load_metrics: dict, api_source: str, run_id: str | None = None
    ) -> dict:
        """Emit the run's one ``etl_event`` and return its counts:
        files read, groups and rows loaded (``load_metrics`` is
        ``write_unified``'s observation), and dead-lettered groups
        counted by error string. Every count is already on the driver,
        so this starts no Spark action."""
        record = {
            "files_read": sum(map(len, self.groups.values())),
            "groups_loaded": len(self.groups.keys() - self.verdicts.keys()),
            "rows_loaded": load_metrics["n_rows"],
            "dead_letter_by_error": dict(Counter(self.verdicts.values())),
        }
        etl_event("transform", "run_summary", api_source, run_id, **record)
        return record


def run_transform(
    spark: SparkSession,
    api_name: str,
    input_files: list[str],
    schema_data: dict | None = None,
) -> TransformResult:
    """E2 parity entry point. ``input_files`` is the literal file list
    the launcher passes (pipeline.py:14,37)."""
    if api_name not in TRANSFORM_MAP:
        raise ValueError(f"Unsupported API name: {api_name}")
    schema = parse_schema(schema_data or UNIFIED_SCHEMA_V1)
    team_schema, standing_schema = RAW_SCHEMAS[api_name]

    teams_paths, standings_paths, _other = raw.split_paths(input_files)
    teams = raw.read_endpoint(spark, teams_paths, team_schema) if teams_paths else None
    standings = (
        raw.read_endpoint(spark, standings_paths, standing_schema)
        if standings_paths
        else None
    )

    # Provenance: every file of a group, for the dead-letter record
    # (transforms.py:184 lists ALL paths of the failed group — even
    # zero-row files, so this is derived from the literal input list,
    # not from scanned rows). The regex is extractPk (helpers.py:20).
    def _pk_of(path: str) -> str:
        m = re.search(raw.PK_REGEX, path)
        return f"{m.group(1)}-{m.group(2)}" if m else "unknown"

    groups: dict[str, list[str]] = {}
    for p in sorted(input_files):
        groups.setdefault(_pk_of(p), []).append(p)

    # Corrupt-file parity (transforms.py:167-169): any unparseable file
    # fails its whole group with the path in the message.
    def _corrupt(df: DataFrame | None) -> DataFrame:
        if df is None:
            return local_frame(spark, [], "group_pk string, error string")
        return (
            df.filter(F.col(raw.CORRUPT_COL).isNotNull())
            .select(
                "group_pk",
                F.concat(
                    F.lit("Dead letter file: "),
                    F.col("_path"),
                    F.lit(", error: malformed JSON"),
                ).alias("error"),
            )
        )

    corrupt_errors = _corrupt(teams).unionByName(_corrupt(standings))

    def _clean(df: DataFrame | None, base_schema) -> DataFrame:
        if df is None:
            from pyspark.sql import types as T

            # fresh StructType — StructType.add mutates in place
            empty_schema = T.StructType(
                list(base_schema.fields)
                + [
                    T.StructField("group_pk", T.StringType()),
                    T.StructField("_path", T.StringType()),
                ]
            )
            return local_frame(spark, [], empty_schema)
        return df.filter(F.col(raw.CORRUPT_COL).isNull())

    teams_clean = _clean(teams, team_schema)
    standings_clean = _clean(standings, standing_schema)

    norm = TRANSFORM_MAP[api_name](teams_clean, standings_clean)
    enforced = enforce_schema(
        norm.records.withColumn("schema_version", F.lit(schema.version)),
        schema,
        keep=["group_pk"],
    )
    # Cache: the verdict collect below and the load both read
    # `enforced` — the Spark idiom for Beam's single-pass multi-output
    # (SURVEY §4).
    enforced = enforced.cache()

    record_errors = (
        enforced.filter(F.col(ERROR_COL).isNotNull())
        .groupBy("group_pk")
        .agg(F.min(ERROR_COL).alias("error"))
    )
    # Precedence mirrors the reference's control flow (transforms.py:149-184):
    # a file-read failure raises before the guards, which raise before
    # per-record enforcement. min(struct(priority, error)) picks the
    # earliest-stage error deterministically.
    group_errors = (
        corrupt_errors.withColumn("_prio", F.lit(0))
        .unionByName(norm.group_errors.withColumn("_prio", F.lit(1)))
        .unionByName(record_errors.withColumn("_prio", F.lit(2)))
        .groupBy("group_pk")
        .agg(F.min(F.struct("_prio", "error")).alias("_e"))
        .select("group_pk", F.col("_e.error").alias("error"))
    )

    # The one routing decision: at most one row per group, collected
    # once, so the load and both dead-letter actions re-derive nothing.
    verdicts = {r["group_pk"]: r["error"] for r in group_errors.collect()}
    good = enforced.filter(~F.col("group_pk").isin(list(verdicts))).drop(
        "group_pk", ERROR_COL
    )
    dead_letter = local_frame(
        spark,
        # PK is uppercase verbatim (transforms.py:184)
        [(pk, groups.get(pk, []), verdicts[pk]) for pk in sorted(verdicts)],
        DEAD_LETTER_DDL,
    )
    # enforced first: it reads the endpoint caches, and dropping a
    # cache under a still-cached dependent re-plans the dependent
    cached = tuple(df for df in (enforced, teams, standings) if df is not None)
    return TransformResult(good, dead_letter, norm.dropped, cached, groups, verdicts)


def write_unified(df: DataFrame, out_path: str) -> dict:
    """T13 parity: full overwrite per run (WRITE_TRUNCATE idempotency,
    pipeline.py:53). update_timestamp is stamped honestly at load time
    (the reference declared a CURRENT_TIMESTAMP() default it never
    applied — SURVEY §1).

    Returns load metrics via Spark's Observation API: row count and
    null-pk count are accumulated DURING the write pass itself — no
    second action, no second scan (the reference has no load metrics
    at all; a ``df.count()`` before the write would double the job).
    """
    from pyspark.sql import Observation

    obs = Observation("write_unified")
    observed = df.withColumn(
        "update_timestamp", F.current_timestamp()
    ).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("pk").isNull(), 1).otherwise(0)).alias(
            "n_null_pk"
        ),
    )
    observed.write.mode("overwrite").parquet(out_path)
    return obs.get


def write_dead_letter(df: DataFrame, out_path: str) -> None:
    """T14 parity: single JSON file per run (num_shards=1 ≡ coalesce(1),
    pipeline.py:58-63)."""
    df.coalesce(1).write.mode("append").json(out_path)


def output_table_name(api_name: str, prefix: str = "teams") -> str:
    """Launch-time table naming parity (ingestion/gcp_utils.py:87)."""
    return f"{prefix}_{api_name}"
