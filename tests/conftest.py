"""Shared fixtures: one SparkSession per test run + reference-shaped
synthetic match data (FIXTURES.md) exercising the domain edge cases."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

T0 = 1_600_000_000  # 2020-09-13T12:26:40Z — inside season05


def _root_cause(exc: BaseException) -> str:
    """First line of each exception in a failed action's Java cause
    chain, outermost first (the Python exception when there is none)."""
    lines = []
    j = getattr(exc, "java_exception", None)
    while j is not None:
        lines.append(j.toString())
        j = j.getCause()
    lines = lines or [f"{type(exc).__name__}: {exc}"]
    return "\n  caused by: ".join(
        (t.strip().splitlines() or [""])[0][:500] for t in lines
    )


def _check_session_health(spark) -> None:
    """One trivial Python-worker action that imports the package on an
    executor. A broken executor dependency (say, a shipped archive the
    workers refuse) then stops the run here with its root cause,
    instead of failing every later Spark test one by one."""
    from cod_stats_spark.session import ship_package

    ship_package(spark)
    try:
        spark.sparkContext.parallelize([0], 1).map(
            lambda _: __import__("cod_stats_spark").__name__
        ).collect()
    except Exception as exc:  # noqa: BLE001 — any failure means unusable
        pytest.exit(f"Spark session unhealthy: {_root_cause(exc)}", returncode=3)


@pytest.fixture(scope="session")
def spark():
    from cod_stats_spark.session import get_spark

    s = get_spark("cod-stats-tests", cpus=4)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    _check_session_health(s)
    yield s


def _match(game_id, uno, end_seconds, mode="br_brduos", game_type="wz",
           player_count=150, team_count=75, **stats):
    """One match JSON document; stats keys override playerStats fields."""
    ps = {
        "score": 1000.0,
        "scorePerMinute": 100.0,
        "kills": 2,
        "deaths": 1,
        "damageDone": 500,
        "damageTaken": 300,
        "gulagKills": 0,
        "gulagDeaths": 0,
        "teamPlacement": 10,
        "kdRatio": 2.0,
        "distanceTraveled": 2500.0,
        "headshots": 1,
        "objectiveBrCacheOpen": 2,
        "objectiveReviver": 1,
        "objectiveBrDownEnemyCircle1": 1,
        "objectiveBrDownEnemyCircle2": 1,
        "objectiveDestroyedVehicleLight": 1,
    }
    ps.update(stats)
    return {
        "matchID": game_id,
        "utcStartSeconds": end_seconds - 1800,
        "utcEndSeconds": end_seconds,
        "gameType": game_type,
        "mode": mode,
        "playerCount": player_count,
        "teamCount": team_count,
        "player": {"uno": uno},
        "playerStats": ps,
    }


PLAYERS_CONFIG = [
    {
        "name": "Alice",
        "isCore": True,
        "accounts": [
            {"activisionPlatform": "battle", "activisionTag": "Alice#1", "unoId": "uno-a1"},
            {"activisionPlatform": "acti", "activisionTag": "Alice#2", "unoId": "uno-a2"},
        ],
    },
    {
        "name": "Bob",
        "isCore": True,
        "accounts": [
            {"activisionPlatform": "battle", "activisionTag": "Bob#1", "unoId": "uno-b1"}
        ],
    },
    {
        "name": "Carol",
        "isCore": False,
        "accounts": [
            {"activisionPlatform": "battle", "activisionTag": "Carol#1", "unoId": "uno-c1"}
        ],
    },
    {
        "name": "Dave",
        "isCore": True,
        "accounts": [
            {"activisionPlatform": "battle", "activisionTag": "Dave#1", "unoId": "uno-d1"}
        ],
    },
]


def build_matches() -> list[tuple[str, str, dict]]:
    """(game_id, uno_id, payload) triples covering FIXTURES.md §4."""
    out = []

    def add(gid, uno, t, **kw):
        out.append((gid, uno, _match(gid, uno, t, **kw)))

    # --- alice session 1: three games < 2h apart (second on merged acct)
    add("g001", "uno-a1", T0, kills=9, teamPlacement=1, gulagKills=2)          # monster + win
    add("g002", "uno-a2", T0 + 1800, kills=0, gulagKills=0, gulagDeaths=3)     # gooseegg
    add("g003", "uno-a1", T0 + 3600, teamPlacement=75)                         # last place
    # --- alice session 2: gap EXACTLY 7200 s from g003 (>= ⇒ new session)
    add("g004", "uno-a1", T0 + 3600 + 7200)
    # --- bob: single-game sessions + gulag streak W W W L W
    add("g101", "uno-b1", T0, gulagKills=1)
    add("g102", "uno-b1", T0 + 1000, gulagKills=1)
    add("g103", "uno-b1", T0 + 2000, gulagKills=1)
    add("g104", "uno-b1", T0 + 3000, gulagKills=0, gulagDeaths=1)
    add("g105", "uno-b1", T0 + 50000, gulagKills=1)
    # --- full duos team: alice+bob same game, twice (numGames>1 gate)
    add("g201", "uno-a1", T0 + 100, mode="br_brduos", teamPlacement=3, team_count=50)
    add("g201", "uno-b1", T0 + 100, mode="br_brduos", teamPlacement=3, team_count=50)
    add("g202", "uno-a1", T0 + 90000, mode="br_brduos", teamPlacement=1, team_count=50)
    add("g202", "uno-b1", T0 + 90000, mode="br_brduos", teamPlacement=1, team_count=50)
    # partial team duos (only alice tracked) — filtered out of breakdowns
    add("g203", "uno-a1", T0 + 95000, mode="br_brduos")
    # --- carol (non-core): present in stats, absent from leaderboards
    add("g301", "uno-c1", T0 + 500, kills=30)
    # --- stimulus mode: gulag forced 0/0
    add("g401", "uno-a1", T0 + 99000, mode="br_71", gulagKills=5, gulagDeaths=2)
    # --- untracked mode (plunder): excluded from stats_wz
    add("g402", "uno-a1", T0 + 99500, mode="br_dmz_104")
    # --- unknown wz mode: audit view
    add("g403", "uno-a1", T0 + 99600, mode="br_mystery")
    # --- mp game: excluded from wz stats, audit for mp
    add("g404", "uno-a1", T0 + 99700, mode="mp_tdm", game_type="mp")
    # --- quality-filter rows: dropped
    add("g501", "uno-a1", T0 + 99800, damageDone=None)
    add("g502", "uno-a1", T0 + 99900, damageTaken=None)
    add("g503", "uno-a1", T0 + 99950, deaths=0, damageTaken=0)
    # --- untracked player: dropped by semi join
    add("g601", "uno-zz", T0 + 99990)
    # --- null playerStats fields: defaulted
    add("g701", "uno-b1", T0 + 99995, kills=None, deaths=None, damageDone=7,
        damageTaken=5, teamPlacement=None, headshots=None)
    return out


@pytest.fixture(scope="session")
def fixture_dirs(tmp_path_factory):
    """Write match JSON files + players.json; returns (matches_dir, players_json)."""
    root = tmp_path_factory.mktemp("cod_fixtures")
    mdir = root / "matches"
    mdir.mkdir()
    for gid, uno, payload in build_matches():
        (mdir / f"match_{gid}_{uno}.json").write_text(json.dumps(payload))
    pj = root / "players.json"
    pj.write_text(json.dumps(PLAYERS_CONFIG))
    return str(mdir), str(pj)


@pytest.fixture(scope="session")
def engine(spark, fixture_dirs):
    from cod_stats_spark.engine import Engine

    mdir, pj = fixture_dirs
    return Engine.from_paths(spark, f"{mdir}/*.json", pj)
