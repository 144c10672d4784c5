"""The synthetic corpus is seeded and its copies are disjoint."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    out = {}
    for name, seed, copies in (("a", 3, 1), ("b", 3, 1), ("x3", 3, 3)):
        d = str(tmp_path_factory.mktemp(name))
        corpus.write_corpus(d, seed, copies)
        out[name] = d
    return out


def test_same_seed_same_bytes(dirs):
    for t in corpus.TABLES:
        with open(f"{dirs['a']}/{t}.parquet", "rb") as a, open(f"{dirs['b']}/{t}.parquet", "rb") as b:
            assert a.read() == b.read(), t


def test_base_matches_sf01_shape(dirs):
    con = duckdb.connect()
    for t, rows in corpus.ROWS.items():
        assert con.execute(f"SELECT count(*) FROM '{dirs['a']}/{t}.parquet'").fetchone()[0] == rows
    n_bad = con.execute(
        f"SELECT count(*) FROM '{dirs['a']}/documents.parquet' WHERE n_chars <> length(text)"
    ).fetchone()[0]
    assert n_bad == 0


GROUPINGS = (
    ("orders", "o_custkey"),
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("events", "user_id"),
    ("documents", "text"),
    ("customer", "c_nationkey"),
)


@pytest.mark.parametrize("table,key", GROUPINGS)
def test_group_counts_scale_by_copies(dirs, table, key):
    """Per-key group-by row counts grow exactly by the copies factor for
    keys that are shifted or content-prefixed; shared dimension keys
    (nation) keep their group count and multiply the group sizes."""
    con = duckdb.connect()

    def groups(d):
        return con.execute(
            f"SELECT count(*) AS g, sum(c) AS rows FROM "
            f"(SELECT {key}, count(*) AS c FROM '{d}/{table}.parquet' GROUP BY 1)"
        ).fetchone()

    g1, r1 = groups(dirs["a"])
    g3, r3 = groups(dirs["x3"])
    assert r3 == 3 * r1
    if key == "c_nationkey":
        assert g3 == g1
    else:
        assert g3 == 3 * g1


def test_events_copies_do_not_overlap_in_time(dirs):
    con = duckdb.connect()
    spans = con.execute(
        f"SELECT user_id // {corpus.OFFSET} AS k, min(ts), max(ts) "
        f"FROM '{dirs['x3']}/events.parquet' GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert [k for k, _, _ in spans] == [0, 1, 2]
    for (_, _, end), (_, start, _) in zip(spans, spans[1:]):
        assert end < start


# Absolute tolerances where 5% of the reference is too tight a test:
# a handful of duplicate documents, and the longest order's line count.
PROFILE_ABS_TOL = {"documents.exact_dup_share": 0.003, "lineitem.max_per_order": 3}


def test_base_profile_matches_sf01_testdata(dirs):
    """Every figure of ``profile_corpus.PROFILE`` (distinct keys, text
    length and vocabulary, duplicate shares, time spans, value averages)
    is within 5% of the sf0.1 testdata's, when that directory exists."""
    import profile_corpus
    from football_etl_pipeline_spark.sources.testdata import DEFAULT_SF_DIR

    ref_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1")
    if not os.path.isfile(os.path.join(ref_dir, "documents.parquet")):
        pytest.skip(f"no sf0.1 testdata at {ref_dir}")
    ref = profile_corpus.profile(ref_dir)
    got = profile_corpus.profile(dirs["a"])
    off = {
        name: (ref[name], got[name])
        for name in profile_corpus.PROFILE
        if abs(got[name] - ref[name]) > max(0.05 * abs(ref[name]), PROFILE_ABS_TOL.get(name, 0))
    }
    assert not off, off
