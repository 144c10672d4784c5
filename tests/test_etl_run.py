"""The ETL batch op decides its failed groups once.

``run_transform`` collects the group verdicts (at most one error per
season-league group) while the transform is built. The dead-letter
frame is then a driver-side ``LocalRelation`` whose actions re-read
nothing, the load is one filter over the cached enforced frame, and
each batch run or micro-batch emits one ``etl_event`` from counts the
driver already holds. These tests count the jobs each step fires in
its own job group, the way ``test_schema_memo.py`` does, and check the
run record against the manifest of a seeded landing batch.
"""

from __future__ import annotations

import importlib.util
import json
import logging
import os
import sys
import uuid
from collections import Counter

import pytest

from . import fixtures_football as fx

from football_etl_pipeline_spark.plans.pipeline import (
    run_transform,
    write_dead_letter,
    write_unified,
)

# The whole batch op on the four-group fixture below fires 18 jobs on
# local[8], most of them while the verdicts are built; it fired 39
# when the load and both dead-letter actions each re-derived the group
# errors, and 24 while the endpoint caches were filled lazily.
BATCH_OP_JOBS = 18
# Of those, run_transform fires this many on every run: one fill per
# endpoint read, then the verdict collect.
TRANSFORM_JOBS = 14

_HERE = os.path.dirname(os.path.abspath(__file__))
_spec = importlib.util.spec_from_file_location(
    "perfbench_landing", os.path.join(os.path.dirname(_HERE), "perfbench", "landing.py")
)
landing = sys.modules[_spec.name] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(landing)


def _jobs(spark, fn):
    """Run ``fn`` in a fresh job group; return (its result, jobs fired)."""
    sc = spark.sparkContext
    group = f"etl_run_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "etl run test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _faulty_batch(d: str) -> list[str]:
    """Four API-Football groups: one good, one with a malformed file,
    one that fails the empty-standings guard and one that fails
    enforcement."""
    bad_w = fx.apifootball_standings()
    bad_w[0]["overall_league_W"] = "n/a"
    league = fx.LEAGUE
    return [
        fx.stage(d, "apifootball", "teams", fx.apifootball_teams()),
        fx.stage(d, "apifootball", "standings", fx.apifootball_standings()),
        fx.stage(d, "apifootball", "teams", fx.apifootball_teams(), league=league + 1),
        fx.stage(d, "apifootball", "standings", "{this is not json", league=league + 1),
        fx.stage(d, "apifootball", "teams", fx.apifootball_teams(), league=league + 2),
        fx.stage(d, "apifootball", "standings", [], league=league + 2),
        fx.stage(d, "apifootball", "teams", fx.apifootball_teams(), league=league + 3),
        fx.stage(d, "apifootball", "standings", bad_w, league=league + 3),
    ]


def test_dead_letter_is_a_local_relation_collected_without_a_job(spark, tmp_path):
    files = _faulty_batch(str(tmp_path))
    res = run_transform(spark, "apifootball", files)
    try:
        rows, n = _jobs(spark, res.dead_letter.collect)
        assert n == 0, f"collecting the dead-letter frame fired {n} job(s)"
        plan = res.dead_letter._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
        pk = lambda league: f"{fx.SEASON}-{league}"  # noqa: E731
        assert {r["PK"]: landing.error_class(r["error"]) for r in rows} == {
            pk(fx.LEAGUE + 1): "malformed",
            pk(fx.LEAGUE + 2): "guard",
            pk(fx.LEAGUE + 3): "enforce",
        }
        assert [r["PK"] for r in rows] == sorted(r["PK"] for r in rows)
        for r in rows:
            league = int(r["PK"].split("-")[1])
            assert r["files"] == sorted(f for f in files if f"league_{league}/" in f)
        assert res.verdicts == {r["PK"]: r["error"] for r in rows}
    finally:
        res.release()


def test_transform_job_count_does_not_move_with_timing(spark, tmp_path):
    """Each endpoint read fills its cache in one job before the verdict
    collect plans its cache stages, so every run over one input fires
    the same jobs. Left lazy, every cache stage planned before another
    had finished loading the cache fired its own fill job, and the
    count moved with timing."""
    files = _faulty_batch(str(tmp_path))
    counts = []
    for _ in range(4):
        res, n = _jobs(spark, lambda: run_transform(spark, "apifootball", files))
        res.release()
        counts.append(n)
    assert counts == [TRANSFORM_JOBS] * 4, counts


def test_batch_op_job_count_is_pinned(spark, tmp_path):
    files = _faulty_batch(str(tmp_path / "landing"))
    out = str(tmp_path / "out")

    def batch_op():
        res = run_transform(spark, "apifootball", files)
        metrics = write_unified(res.good, os.path.join(out, "unified"))
        n_dead = res.dead_letter.count()
        write_dead_letter(res.dead_letter, os.path.join(out, "dead_letter"))
        res.release()
        return metrics, n_dead

    (metrics, n_dead), n = _jobs(spark, batch_op)
    assert (metrics["n_rows"], n_dead) == (3, 3)
    assert n <= BATCH_OP_JOBS + 2, f"the batch op fired {n} jobs"


def _summaries(caplog) -> list[dict]:
    out = []
    for r in caplog.records:
        try:
            payload = json.loads(r.getMessage())
        except ValueError:
            continue
        if isinstance(payload, dict) and payload.get("event") == "run_summary":
            out.append(payload)
    return out


def _fault_batch(api: str):
    """A seeded landing batch with at least two dead-letter classes."""
    return next(
        b for b in (landing.make_batch(seed=3, op=op, leagues=8, api=api) for op in range(200))
        if len(set(b.manifest.dead_letter.values())) >= 2
    )


def _by_class(by_error: dict[str, int]) -> Counter:
    out: Counter = Counter()
    for error, n in by_error.items():
        out[landing.error_class(error)] += n
    return out


@pytest.mark.parametrize("api", landing.APIS)
def test_run_summary_counts_match_the_landing_manifest(spark, tmp_path, caplog, api):
    batch = _fault_batch(api)
    m = batch.manifest
    files = landing.stage(batch, str(tmp_path / "landing"), run_id="t")
    res = run_transform(spark, api, files)
    metrics = write_unified(res.good, str(tmp_path / "unified"))
    res.release()
    with caplog.at_level(logging.INFO, "football_etl_pipeline_spark"):
        record, n = _jobs(spark, lambda: res.log_run(metrics, api, run_id="t"))
    assert n == 0, f"the run record fired {n} job(s)"
    assert record["files_read"] == len(files)
    assert record["groups_loaded"] == len(batch.leagues) - len(m.dead_letter)
    assert record["rows_loaded"] == m.good_rows
    assert _by_class(record["dead_letter_by_error"]) == Counter(m.dead_letter.values())
    (payload,) = _summaries(caplog)
    assert payload == {"etl-stage": "transform", "event": "run_summary",
                       "api-source": api, "run_id": "t", **record}


def test_stream_emits_one_run_summary_per_micro_batch(spark, tmp_path, caplog):
    from football_etl_pipeline_spark.streaming.football_stream import (
        run_streaming_transform,
    )

    api = "apifootball"
    batch = _fault_batch(api)
    m = batch.manifest
    landing_root = str(tmp_path / "landing")
    files = landing.stage(batch, landing_root, run_id="t")
    with caplog.at_level(logging.INFO, "football_etl_pipeline_spark"):
        q = run_streaming_transform(
            spark, api, landing_root, str(tmp_path / "warehouse"),
            str(tmp_path / "dead"), str(tmp_path / "ck"),
            max_files_per_trigger=len(files) // 2 + 1,
        )
        q.awaitTermination(300)
    summaries = _summaries(caplog)
    batch_ids = sorted(
        int(d.split("=")[1]) for d in os.listdir(tmp_path / "warehouse")
    )
    assert [p["run_id"] for p in summaries] == [f"batch_id={b}" for b in batch_ids]
    assert len(summaries) >= 2, "the file cap should split the batch"
    # orphans stay pending in a stream instead of dead-lettering
    assert sum(p["rows_loaded"] for p in summaries) == m.good_rows
    assert sum(p["files_read"] for p in summaries) == len(files) - len(m.orphans)
    got = sum((_by_class(p["dead_letter_by_error"]) for p in summaries), Counter())
    assert got == Counter(m.stream_dead_letter().values())
