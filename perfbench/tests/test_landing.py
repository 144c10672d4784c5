"""The landing generator is seeded and its manifest is what the
reference transform produces."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import landing  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


@pytest.mark.parametrize("api", landing.APIS)
def test_same_seed_gives_identical_landing_files(tmp_path, api):
    trees = []
    for name in ("a", "b"):
        batch = landing.make_batch(seed=11, op=3, leagues=12, api=api)
        landing.stage(batch, str(tmp_path / name), run_id="op3")
        trees.append(_tree(str(tmp_path / name)))
    assert trees[0] == trees[1]
    other = landing.make_batch(seed=12, op=3, leagues=12, api=api)
    landing.stage(other, str(tmp_path / "c"), run_id="op3")
    assert _tree(str(tmp_path / "c")) != trees[0]


def test_every_fault_class_is_generated():
    seen = {api: set() for api in landing.APIS}
    for op in range(40):
        api = landing.APIS[op % 2]
        b = landing.make_batch(seed=5, op=op, leagues=16, api=api)
        seen[api] |= set(b.manifest.dead_letter.values())
        seen[api] |= {"unknown_team"} if b.manifest.dropped_rows else set()
        seen[api] |= {"orphan"} if b.manifest.orphans else set()
    assert seen["apifootball"] == {"malformed", "enforce", "guard", "unknown_team", "orphan"}
    assert seen["apisports"] == {"malformed", "guard", "unknown_team", "orphan"}


@pytest.fixture(scope="module")
def spark():
    from football_etl_pipeline_spark.session import get_spark

    s = get_spark("perfbench-test", cpus=2)
    yield s


@pytest.mark.parametrize("api", landing.APIS)
def test_run_transform_matches_manifest(spark, tmp_path, api):
    from football_etl_pipeline_spark.plans.pipeline import run_transform

    batch = next(
        b for b in (landing.make_batch(seed=2, op=op, leagues=10, api=api) for op in range(200))
        if len(set(b.manifest.dead_letter.values())) >= 2 and b.manifest.dropped_rows
    )
    files = landing.stage(batch, str(tmp_path), run_id="t")
    res = run_transform(spark, api, files)
    assert res.good.count() == batch.manifest.good_rows
    assert res.dropped.count() == batch.manifest.dropped_rows
    got = {r["PK"]: landing.error_class(r["error"]) for r in res.dead_letter.collect()}
    assert got == batch.manifest.dead_letter
