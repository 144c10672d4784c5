"""SparkSession factory.

Local testing runs on ``local[N]`` (single JVM), but every config here is
chosen to also be the right default on a large multi-executor cluster:

- AQE on (runtime re-planning, partition coalescing, skew-join splitting)
  so plans survive 100x scale-ups without hand-tuning.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescePartitions makes the static number mostly moot.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  (DuckDB timestamps are UTC-naive).
- Arrow enabled for the few Pandas-UDF code paths (vectorized transfer).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "football_etl_pipeline_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults."""
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # 128 MiB input splits: good balance for both local[32] at sf0.1
        # and wide parquet scans on a cluster.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Python-worker connect-back flake under shared-box contention:
        # the timeout is HARD-CODED in PythonWorkerFactory in Spark
        # 4.1.2 (no spark.python.* timeout key exists in the core
        # config registry — verified against the jar), so the only
        # levers are fewer simultaneous worker spawns (tests run
        # cpus=8) and worker reuse, which is default-on and kept so.
        .config("spark.python.worker.reuse", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence, schema: str | T.StructType
) -> DataFrame:
    """``rows`` under ``schema`` (a DDL string or a ``StructType``) as
    an Arrow-backed ``LocalRelation``. ``createDataFrame(<list>)``
    instead parallelizes the pickled list, so every action on it runs
    Python-worker tasks; collecting a ``LocalRelation`` fires no job
    at all. The Arrow converter rejects an empty list, so zero rows go
    in as the schema's empty table."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if rows:
        table = LocalDataToArrowConversion.convert(
            rows, schema, use_large_var_types=False
        )
    else:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)
