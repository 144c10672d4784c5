"""Catalog over the driver-generated testdata parquet tables.

Tables (TPC-H-ish star schema + events/documents/embeddings):
``region nation customer supplier part orders lineitem events
documents embeddings`` — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Reads go straight through ``spark.read.parquet`` so Catalyst gets
native column pruning and predicate pushdown into the scan. At cluster
scale these would be directories of many row-grouped files; nothing
here assumes a single file.

Schema memo: reading a parquet file without a schema starts one Spark
job to infer it from the footer, every time a query is built. So the
first read of a file infers its schema as before and remembers the
``StructType``, keyed by the file's real path, mtime, size and inode;
every later read of the same unchanged file passes that schema to
``spark.read.schema(...)``, which plans the same scan and starts no
job. A rewritten or replaced file has a new key and is inferred again.
The memo holds schemas only, never rows: every action still scans the
file, and a fresh process pays one inference per table. A path that is
not a regular file (a multi-file table directory) is read without a
schema, as before.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at ANY scale factor —
# region/nation are fixed-size; supplier/part/customer grow with sf but
# stay well under typical 10 MB autoBroadcast threshold at test scales.
# At 100 TB, Catalyst/AQE re-checks actual sizes, so we only hard-hint
# the provably tiny ones.
ALWAYS_BROADCAST = ("region", "nation")

# (realpath, st_mtime_ns, st_size, st_ino) -> the schema inferred from
# that version of the file.
_SCHEMAS: dict[tuple, StructType] = {}


def _file_version(path: str) -> tuple | None:
    """Memo key of a regular file, or None for anything else."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.realpath(path), st.st_mtime_ns, st.st_size, st.st_ino)


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for one parquet file, inferred (one
    Spark job) once per version of the file and memoized."""
    key = _file_version(path)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        if key is not None:
            _SCHEMAS[key] = schema
    return schema


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    if _file_version(path) is None:
        return spark.read.parquet(path)
    return spark.read.schema(table_schema(spark, path)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-adaptive load of events.parquet, normalizing ``ts`` to a
    microsecond ``TimestampType`` whatever the file physically stores:

    - parquet TIMESTAMP(NANOS): Spark 4 rejects it outright
      (PARQUET_TYPE_ILLEGAL), so the legacy flag reads nanos as a long
      and we floor-convert — the same truncation DuckDB's
      CAST(ts AS TIMESTAMP) applies, so oracle comparisons line up.
    - parquet timestamp[us] (isAdjustedToUTC=false): Spark reads
      TIMESTAMP_NTZ; cast to the session-tz type (session tz is pinned
      UTC in session.py, so the wall-clock values are unchanged and
      match DuckDB's naive TIMESTAMP).
    - already TimestampType: pass through.

    Every downstream operator sees the same TimestampType column
    regardless of which testdata generation produced the file.

    The legacy flag is set before the schema memo is consulted, so the
    schema memoized for events.parquet is the one inferred under it
    (nothing in the package resets the flag)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for spark.sql queries)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
