"""Streaming landing-dir ingestion == batch transform equivalence.

Stage fixture payloads into the reference landing layout, drain the
file stream with availableNow, and the warehouse content must equal
the batch ``run_transform`` on the same files — including the
group-level dead-letter channel. A second staging pass then proves
incrementality: only the NEW files are processed (checkpointed file
tracking), and the combined warehouse equals batch-on-everything.
"""

from __future__ import annotations

import glob
import json

from .fixtures_football import (
    LEAGUE,
    SEASON,
    apifootball_standings,
    apifootball_teams,
    stage,
)

from football_etl_pipeline_spark.plans.pipeline import run_transform
from football_etl_pipeline_spark.streaming.football_stream import (
    run_streaming_transform,
)

API = "apifootball"


def _warehouse_rows(spark, warehouse):
    dirs = sorted(glob.glob(warehouse + "/batch_id=*"))
    if not dirs:
        return []
    df = spark.read.parquet(*dirs).drop("update_timestamp")
    return sorted(map(tuple, df.collect()))


def _batch_rows(spark, files):
    res = run_transform(spark, API, sorted(files))
    return sorted(map(tuple, res.good.drop("update_timestamp").collect()))


def test_streaming_landing_matches_batch_and_is_incremental(spark, tmp_path):
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    dead = str(tmp_path / "dead")
    ck = str(tmp_path / "ck")

    first = [
        stage(landing, API, "teams", apifootball_teams()),
        stage(landing, API, "standings", apifootball_standings()),
    ]
    q = run_streaming_transform(spark, API, landing, warehouse, dead, ck)
    q.awaitTermination(300)
    got1 = _warehouse_rows(spark, warehouse)
    assert got1 == _batch_rows(spark, first)
    assert len(got1) == 3  # the fixture league's three teams

    # Second arrival: same payloads staged for ANOTHER league — only
    # the new files may be processed (new batch_id dir, 3 new rows).
    second = [
        stage(landing, API, "teams", apifootball_teams(), league=LEAGUE + 1,
              filename="run2_2024-01-02.json"),
        stage(landing, API, "standings", apifootball_standings(),
              league=LEAGUE + 1, filename="run2_2024-01-02.json"),
    ]
    n_dirs_before = len(glob.glob(warehouse + "/batch_id=*"))
    q = run_streaming_transform(spark, API, landing, warehouse, dead, ck)
    q.awaitTermination(300)
    assert len(glob.glob(warehouse + "/batch_id=*")) == n_dirs_before + 1
    assert _warehouse_rows(spark, warehouse) == _batch_rows(spark, first + second)


def test_streaming_landing_dead_letters_malformed_group(spark, tmp_path):
    """A malformed standings file dead-letters its whole group through
    the streaming path, with the reference's record shape (PK, files,
    error) — and the good group still lands."""
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    dead = str(tmp_path / "dead")
    ck = str(tmp_path / "ck")

    stage(landing, API, "teams", apifootball_teams())
    stage(landing, API, "standings", apifootball_standings())
    bad_season = SEASON + 1
    stage(landing, API, "teams", apifootball_teams(), season=bad_season)
    stage(landing, API, "standings", "{not valid json", season=bad_season)

    q = run_streaming_transform(spark, API, landing, warehouse, dead, ck)
    q.awaitTermination(300)

    assert len(_warehouse_rows(spark, warehouse)) == 3  # good group only
    records = []
    for f in glob.glob(dead + "/batch_id=*/part-*.json"):
        with open(f) as fh:
            records += [json.loads(line) for line in fh if line.strip()]
    assert len(records) == 1
    assert records[0]["PK"] == f"{bad_season}-{LEAGUE}"
    assert "malformed JSON" in records[0]["error"]
    assert len(records[0]["files"]) == 2  # both files of the failed group


def test_streaming_landing_batch_size_is_bounded(spark, tmp_path):
    """The landing watch caps files-per-trigger so the foreachBatch
    driver-side path collect is bounded however large the backlog —
    asserted on the source's actual options, and behaviorally: a
    backlog larger than the cap drains across multiple micro-batches."""
    from football_etl_pipeline_spark.streaming.football_stream import (
        DEFAULT_MAX_FILES_PER_TRIGGER,
        read_landing_stream,
        run_streaming_transform,
    )

    assert DEFAULT_MAX_FILES_PER_TRIGGER == 256

    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    dead = str(tmp_path / "dead")
    ck = str(tmp_path / "ck")

    # 3 groups staged, cap of 2 files/trigger → the 6-file backlog
    # must drain over >1 batch_id directory, never one giant batch.
    for i in range(3):
        stage(landing, API, "teams", apifootball_teams(), league=LEAGUE + i)
        stage(landing, API, "standings", apifootball_standings(), league=LEAGUE + i)

    assert read_landing_stream(spark, landing, API).isStreaming
    q = run_streaming_transform(
        spark, API, landing, warehouse, dead, ck, max_files_per_trigger=2
    )
    q.awaitTermination(300)
    batch_dirs = glob.glob(warehouse + "/batch_id=*")
    assert len(batch_dirs) > 1, "cap of 2 should split 6 files into multiple batches"
    assert len(_warehouse_rows(spark, warehouse)) == 9  # 3 groups x 3 teams


def test_stream_releases_each_batch_caches(spark, tmp_path):
    """Every micro-batch's ``run_transform`` caches (the two endpoint
    reads and the enforced frame) are released by the batch itself: a
    long-running stream must not keep three cached frames per batch."""
    from football_etl_pipeline_spark.operators.registry import release_checkpoints

    release_checkpoints(spark)
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    for i in range(2):
        stage(landing, API, "teams", apifootball_teams(), league=LEAGUE + i)
        stage(landing, API, "standings", apifootball_standings(), league=LEAGUE + i)
    q = run_streaming_transform(
        spark, API, landing, warehouse, str(tmp_path / "dead"),
        str(tmp_path / "ck"), max_files_per_trigger=2,
    )
    q.awaitTermination(300)
    assert q.lastProgress["batchId"] >= 1, "cap of 2 should split 4 files"
    assert len(_warehouse_rows(spark, warehouse)) == 6  # 2 groups x 3 teams
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_group_split_across_batches_does_not_dead_letter(spark, tmp_path):
    """maxFilesPerTrigger boundaries give NO group guarantee (file
    order ties on same-millisecond mtimes break arbitrarily), so a
    teams file and its standings sibling can land in different
    micro-batches. The pending-state must hold the early half and
    process the group intact when the sibling arrives — 3 complete
    groups staged simultaneously with cap=2 must ALL land, none
    dead-lettered."""
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    dead = str(tmp_path / "dead")
    ck = str(tmp_path / "ck")

    files = []
    for i in range(3):
        files.append(stage(landing, API, "teams", apifootball_teams(),
                           league=LEAGUE + i))
        files.append(stage(landing, API, "standings", apifootball_standings(),
                           league=LEAGUE + i))
    q = run_streaming_transform(
        spark, API, landing, warehouse, dead, ck, max_files_per_trigger=2
    )
    q.awaitTermination(300)
    assert _warehouse_rows(spark, warehouse) == _batch_rows(spark, files)
    assert len(_warehouse_rows(spark, warehouse)) == 9
    dead_records = []
    for f in glob.glob(dead + "/batch_id=*/part-*.json"):
        with open(f) as fh:
            dead_records += [json.loads(l) for l in fh if l.strip()]
    assert dead_records == []


def test_orphan_group_flushes_after_pending_window(spark, tmp_path):
    """A teams file whose standings sibling never arrives must not
    pend forever: after pending_flush_batches further batches it
    flushes to the transform and dead-letters as a REAL missing-
    sibling group."""
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    dead = str(tmp_path / "dead")
    ck = str(tmp_path / "ck")

    # orphan: teams only, no standings
    stage(landing, API, "teams", apifootball_teams(), league=LEAGUE + 9)
    q = run_streaming_transform(
        spark, API, landing, warehouse, dead, ck, pending_flush_batches=1
    )
    q.awaitTermination(300)
    assert _warehouse_rows(spark, warehouse) == []  # held, not dead-lettered

    # a later complete group triggers the next batch; the orphan is
    # now overdue and flushes alongside it
    stage(landing, API, "teams", apifootball_teams(), league=LEAGUE)
    stage(landing, API, "standings", apifootball_standings(), league=LEAGUE)
    q = run_streaming_transform(
        spark, API, landing, warehouse, dead, ck, pending_flush_batches=1
    )
    q.awaitTermination(300)
    assert len(_warehouse_rows(spark, warehouse)) == 3  # the complete group
    dead_records = []
    for f in glob.glob(dead + "/batch_id=*/part-*.json"):
        with open(f) as fh:
            dead_records += [json.loads(l) for l in fh if l.strip()]
    assert len(dead_records) == 1  # the orphan, as a true missing-sibling group
    assert dead_records[0]["PK"] == f"{SEASON}-{LEAGUE + 9}"


def test_split_ready_unit():
    """Pure-function coverage of the pending-state partition: complete
    groups pass, incomplete pend, overdue flush, unparseable paths
    pass straight through."""
    from football_etl_pipeline_spark.streaming.football_stream import _split_ready

    t = "/l/apifootball/season_2023/league_1/teams/a.json"
    s = "/l/apifootball/season_2023/league_1/standings/a.json"
    t2 = "/l/apifootball/season_2023/league_2/teams/a.json"
    odd = "/l/apifootball/not_in_layout.json"

    ready, pending = _split_ready([t, s, t2, odd], {}, batch_id=0)
    assert ready == sorted([t, s, odd])  # complete group + unparseable
    assert pending == {t2: 0}

    # sibling arrives later: pending half rides the completing batch
    ready, pending = _split_ready(
        ["/l/apifootball/season_2023/league_2/standings/a.json"], {t2: 0}, batch_id=1
    )
    assert t2 in ready and not pending

    # overdue orphan flushes even without its sibling
    ready, pending = _split_ready([], {t2: 0}, batch_id=8, flush_after=8)
    assert ready == [t2] and not pending
    # ...but not before the window closes
    ready, pending = _split_ready([], {t2: 0}, batch_id=7, flush_after=8)
    assert ready == [] and pending == {t2: 0}
