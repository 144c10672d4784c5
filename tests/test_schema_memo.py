"""The testdata catalog infers a parquet file's schema once per file
version, then reads with that schema and starts no Spark job.

``sources/testdata.py`` memoizes the inferred ``StructType`` per
(real path, mtime, size, inode). These tests count the jobs a load
fires in its own job group: the first load of a file infers (one job
or more), a second load of the unchanged file fires none, and a
rewritten file is inferred again. The memo holds schemas only, so no
rows are cached. The streaming rows read their stream schema from the
same memo and drop their memory-sink views once the result is bound.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from football_etl_pipeline_spark.sources.testdata import load_table, table_schema


def _jobs(spark, fn):
    """Run ``fn`` in a fresh job group; return (its result, jobs fired)."""
    sc = spark.sparkContext
    group = f"schema_memo_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema memo test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(path, extra: bool = False) -> None:
    cols = {"r_regionkey": [0, 1, 2], "r_name": ["a", "b", "c"]}
    if extra:
        cols["r_extra"] = [1.5, 2.5, 3.5]
    pq.write_table(pa.table(cols), path)


def test_second_load_of_a_file_fires_no_job(spark, tmp_path):
    _write_region(tmp_path / "region.parquet")
    first, n_first = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    second, n_second = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert n_first >= 1, "the first load no longer infers the schema"
    assert n_second == 0, f"a memoized load fired {n_second} job(s)"
    assert second.schema == first.schema
    assert second.count() == 3


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    _write_region(path)
    load_table(spark, str(tmp_path), "region")
    _, n_memo = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert n_memo == 0

    _write_region(path, extra=True)
    df, n_new = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert n_new >= 1, "a rewritten file was read with its old schema"
    assert df.columns == ["r_regionkey", "r_name", "r_extra"]
    assert df.agg({"r_extra": "sum"}).first()[0] == 7.5
    _, n_again = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert n_again == 0


def test_table_schema_is_the_memo_the_loads_use(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    _write_region(path)
    df = load_table(spark, str(tmp_path), "region")
    schema, n = _jobs(spark, lambda: table_schema(spark, path))
    assert n == 0
    assert schema == df.schema


def test_memoized_events_load_keeps_ts_a_timestamp(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path / "events.parquet")
    load_table(spark, str(tmp_path), "events")
    df, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert n == 0
    assert isinstance(df.schema["ts"].dataType, T.TimestampType), df.schema["ts"]
    assert df.count() == load_table(spark, sf_dir, "events").count()


def test_memo_caches_no_rows(spark, tmp_path):
    from football_etl_pipeline_spark.operators.registry import release_checkpoints

    release_checkpoints(spark)
    _write_region(tmp_path / "region.parquet")
    load_table(spark, str(tmp_path), "region")
    df, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert n == 0
    assert df.count() == 3
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_streaming_row_drops_its_memory_sink_view(spark, sf_dir, duck):
    from football_etl_pipeline_spark.operators import ORACLES, QUERIES
    from football_etl_pipeline_spark.oracle import check

    name = "streaming_windowed_counts"
    QUERIES[name](spark, sf_dir).collect()
    rec = check(spark, duck, lambda: QUERIES[name](spark, sf_dir), ORACLES[name])
    assert rec["status"] == "ok", rec
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith(name)]
    assert left == [], f"memory-sink views left registered: {left}"
