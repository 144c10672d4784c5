"""One release call frees everything a query left cached.

``registry.release_checkpoints(spark)`` is the release call of every
harness surface, the driver adapter's ``queries()`` wrapper included.
It must free both kinds of cached state a query can leave behind:
``localCheckpoint`` blocks, which are not tracked, and the tracked
``persist_tracked`` frames, whose CacheManager entries must go too (a
bare RDD unpersist would leave stale entries that silently recompute).
"""

from __future__ import annotations

from pyspark import StorageLevel

from football_etl_pipeline_spark.operators import QUERIES, registry

CHECKPOINTS = "graph_kcore"  # localCheckpoint only, nothing tracked
PLAIN = "stats_jarque_bera_value"  # caches nothing
PERSISTS = "dedup_funnel_report"  # persist_tracked


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


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

    tracked = list(registry._LIVE_PERSISTS)
    assert tracked, "probe query no longer uses persist_tracked"
    assert all(df.storageLevel != StorageLevel.NONE for df in tracked)
    registry.release_checkpoints(spark)
    assert _persistent_rdds(spark) == 0
    assert all(df.storageLevel == StorageLevel.NONE for df in tracked), (
        "CacheManager still holds a tracked frame"
    )
