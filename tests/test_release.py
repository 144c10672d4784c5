"""One release call frees everything a query left cached.

``registry.release_checkpoints(spark)`` is the release call of every
harness surface, the driver adapter's ``queries()`` wrapper included.
It must free both kinds of cached state a query can leave behind:
``localCheckpoint`` blocks, which no cached frame owns, and every
``.persist()``/``.cache()`` frame, whose CacheManager entries must go
too (a bare RDD unpersist would leave stale entries that silently
recompute). Spark's CacheManager is the only record of what a query
cached; no operator-side list exists.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel

from football_etl_pipeline_spark.operators import QUERIES, registry

CHECKPOINTS = "graph_kcore"  # localCheckpoint only, caches no frame
PLAIN = "stats_jarque_bera_value"  # caches nothing
PERSISTS = "dedup_funnel_report"  # persists a shared subtree

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_driver_wrapper_and_release_call_free_everything(spark, sf_dir, monkeypatch):
    import __spark_entry__ as e

    at_entry: dict[str, int] = {}
    for name in (CHECKPOINTS, PLAIN, PERSISTS):
        def spy(spark_, sf_dir_, _name=name, _fn=QUERIES[name]):
            at_entry[_name] = _persistent_rdds(spark_)
            return _fn(spark_, sf_dir_)

        monkeypatch.setitem(QUERIES, name, spy)
    qs = e.queries()

    qs[CHECKPOINTS](spark, sf_dir).collect()
    assert _persistent_rdds(spark) > 0, "probe query no longer checkpoints"
    qs[PLAIN](spark, sf_dir).collect()
    qs[PERSISTS](spark, sf_dir).collect()
    assert at_entry == {CHECKPOINTS: 0, PLAIN: 0, PERSISTS: 0}

    assert not _cache_empty(spark), "probe query no longer persists a frame"
    registry.release_checkpoints(spark)
    assert _persistent_rdds(spark) == 0
    assert _cache_empty(spark), "CacheManager still holds a persisted frame"


def test_release_frees_a_plain_cache(spark):
    """A frame cached by a bare ``.cache()`` (as ``read_endpoint`` and
    the ETL pipeline do) is released too, and still recounts after the
    release because a cache keeps its lineage."""
    registry.release_checkpoints(spark)
    df = spark.range(1000).selectExpr("id % 7 AS k").cache()
    assert df.count() == 1000
    assert not _cache_empty(spark)

    assert registry.release_checkpoints(spark) >= 1
    assert _cache_empty(spark)
    assert _persistent_rdds(spark) == 0
    assert df.storageLevel == StorageLevel.NONE
    assert df.count() == 1000


def test_no_operator_side_persist_tracker():
    """Spark's CacheManager is the one owner of cached state: the old
    registry tracker and its wrapper are gone from every source file."""
    banned = ("persist" + "_tracked", "_LIVE" + "_PERSISTS")
    files = [os.path.join(ROOT, f) for f in ("bench.py", "__spark_entry__.py")]
    for sub in ("football_etl_pipeline_spark", "tools", "tests"):
        for d, _, names in os.walk(os.path.join(ROOT, sub)):
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    hits = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            text = f.read()
        hits += [(os.path.relpath(path, ROOT), b) for b in banned if b in text]
    assert not hits, hits
