"""Seeded football landing batches for the ``etl`` workload.

One batch is ``leagues`` (season, league) groups of one API shape, each
a teams file and a standings file. Payloads follow FIXTURES.md and are
internally consistent (played = W+D+L, points = 3W+D, GD = GF-GA).
Files are staged through ``plans.ingest.ingest`` with an in-process
stub fetcher; faults are injected in a seeded share of the groups:

- ``malformed``: one file of the group is cut short after staging;
  the whole group is dead-lettered as malformed JSON.
- ``enforce`` (API-Football): one standings row carries a non-numeric
  ``overall_league_W``; schema enforcement fails and the group is
  dead-lettered.
- ``empty`` (API-Sports, whose typed payload has no field enforcement
  can reject): the standings ``response`` is empty; the group guard
  dead-letters it.
- ``unknown_team``: one extra standings row names a team the teams
  file lacks; that row is dropped and the rest of the group loads.
- ``orphan``: the standings file is removed after staging; a batch run
  dead-letters the group, a stream holds it pending.

Every batch carries a manifest of what a correct run must produce.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

APIS = ("apifootball", "apisports")
SEASON = 2023
FAULTS = ("malformed", "enforce", "empty", "unknown_team", "orphan")
FAULT_SHARE = 0.2
LEAGUE_STRIDE = 1000

# Dead-letter error class, by the message prefix the transform writes.
ERROR_CLASSES = (
    ("Dead letter file: ", "malformed"),
    ("Type validation failed", "enforce"),
    ("APIFootball input data is missing", "guard"),
    ("API-Sports 'response' data is empty", "guard"),
)
FAULT_CLASS = {"malformed": "malformed", "enforce": "enforce", "empty": "guard", "orphan": "guard"}


def error_class(message: str) -> str:
    for prefix, cls in ERROR_CLASSES:
        if message.startswith(prefix):
            return cls
    return "other"


@dataclass
class Manifest:
    good_rows: int = 0
    dropped_rows: int = 0
    dead_letter: dict[str, str] = field(default_factory=dict)  # pk -> error class
    orphans: list[str] = field(default_factory=list)  # pks

    def stream_dead_letter(self) -> dict[str, str]:
        """Orphans stay pending in a stream instead of dead-lettering."""
        return {pk: c for pk, c in self.dead_letter.items() if pk not in self.orphans}


@dataclass
class Batch:
    api: str
    leagues: list[int]
    payloads: dict[tuple[int, str], object]
    truncate: dict[int, str]  # league -> endpoint cut short after staging
    remove: dict[int, str]  # league -> endpoint removed after staging
    manifest: Manifest

    def fetcher(self, api_name: str, endpoint: str, league_id: int, season: int) -> object:
        """Stub with the ``plans.ingest.Fetcher`` signature."""
        if api_name != self.api or season != SEASON:
            raise KeyError((api_name, endpoint, league_id, season))
        return self.payloads[(league_id, endpoint)]


def _teams(rng: np.random.Generator, n: int) -> list[dict]:
    rows = []
    for i in range(n):
        w, d, l = (int(x) for x in rng.integers(0, 15, 3))
        gf, ga = (int(x) for x in rng.integers(0, 60, 2))
        rows.append({"id": 100 + i, "name": f"Team {i}", "w": w, "d": d, "l": l, "gf": gf, "ga": ga,
                     "form": "".join(rng.choice(list("WDL"), 5))})
    rows.sort(key=lambda r: (-(3 * r["w"] + r["d"]), -(r["gf"] - r["ga"]), r["id"]))
    return rows


def _apifootball(league: int, teams: list[dict], fault: str | None, rng) -> tuple[object, object]:
    tpay = [{"team_key": str(t["id"]), "team_name": t["name"], "team_country": f"Country{league % 50}",
             "venue": {"venue_name": f"{t['name']} Park", "venue_city": f"City{t['id']}"}} for t in teams]
    spay = [{"team_id": str(t["id"]), "team_name": t["name"], "league_id": str(league),
             "league_name": f"League {league}", "overall_league_position": str(rank),
             "overall_league_PTS": str(3 * t["w"] + t["d"]),
             "overall_league_payed": str(t["w"] + t["d"] + t["l"]),
             "overall_league_W": str(t["w"]), "overall_league_D": str(t["d"]),
             "overall_league_L": str(t["l"]), "overall_league_GF": str(t["gf"]),
             "overall_league_GA": str(t["ga"]), "overall_league_form": t["form"]}
            for rank, t in enumerate(teams, 1)]
    if fault == "enforce":
        spay[int(rng.integers(0, len(spay)))]["overall_league_W"] = "n/a"
    elif fault == "unknown_team":
        extra = dict(spay[0], team_id="999999", team_name="Ghost FC")
        spay.append(extra)
    return tpay, spay


def _apisports(league: int, teams: list[dict], fault: str | None, rng) -> tuple[object, object]:
    tpay = {"response": [{"team": {"id": t["id"], "name": t["name"], "country": f"Country{league % 50}"},
                          "venue": {"name": f"{t['name']} Park", "city": f"City{t['id']}"}} for t in teams]}
    rows = [{"rank": rank, "team": {"id": t["id"], "name": t["name"]}, "points": 3 * t["w"] + t["d"],
             "goalsDiff": t["gf"] - t["ga"], "form": t["form"],
             "all": {"played": t["w"] + t["d"] + t["l"], "win": t["w"], "draw": t["d"], "lose": t["l"],
                     "goals": {"for": t["gf"], "against": t["ga"]}}}
            for rank, t in enumerate(teams, 1)]
    if fault == "unknown_team":
        rows.append(dict(rows[0], team={"id": 999999, "name": "Ghost FC"}))
    spay = {"response": [] if fault == "empty" else [
        {"league": {"id": league, "name": f"League {league}", "season": SEASON, "standings": [rows]}}]}
    return tpay, spay


def make_batch(seed: int, op: int, leagues: int, api: str) -> Batch:
    """Batch ``op`` of the run seeded by ``seed``. League ids are unique
    per op, so batches never overwrite each other's groups."""
    rng = np.random.default_rng([seed, op])
    allowed = [f for f in FAULTS if not (f == "enforce" and api == "apisports")
               and not (f == "empty" and api == "apifootball")]
    ids = [op * LEAGUE_STRIDE + i for i in range(1, leagues + 1)]
    batch = Batch(api, ids, {}, {}, {}, Manifest())
    m = batch.manifest
    build = _apifootball if api == "apifootball" else _apisports
    for league in ids:
        fault = str(rng.choice(allowed)) if rng.random() < FAULT_SHARE else None
        teams = _teams(rng, int(rng.integers(8, 21)))
        tpay, spay = build(league, teams, fault, rng)
        batch.payloads[(league, "teams")] = tpay
        batch.payloads[(league, "standings")] = spay
        pk = f"{SEASON}-{league}"
        if fault == "malformed":
            batch.truncate[league] = str(rng.choice(["teams", "standings"]))
        elif fault == "orphan":
            batch.remove[league] = "standings"
            m.orphans.append(pk)
        if fault in FAULT_CLASS:
            m.dead_letter[pk] = FAULT_CLASS[fault]
        else:
            m.good_rows += len(teams)
            m.dropped_rows += fault == "unknown_team"
    return batch


def stage(batch: Batch, landing_root: str, run_id: str) -> list[str]:
    """Stage ``batch`` through ``plans.ingest.ingest`` and apply the
    file-level faults. Returns the landing files that exist afterwards."""
    from football_etl_pipeline_spark.plans.ingest import ingest

    res = ingest(batch.api, batch.leagues, batch.fetcher, landing_root, season=SEASON, run_id=run_id)
    if res.error:
        raise RuntimeError(f"ingest failed: {res.error}")
    files = []
    for path in res.uploaded_files:
        league = int(path.split("league_")[1].split(os.sep)[0])
        endpoint = path.split(os.sep)[-2]
        if batch.remove.get(league) == endpoint:
            os.remove(path)
            continue
        if batch.truncate.get(league) == endpoint:
            with open(path, "rb+") as f:
                f.truncate(os.path.getsize(path) // 2)
        files.append(path)
    return files
