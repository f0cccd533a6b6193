"""The report write's job budget and its fused plans: the ranked-pass
leaderboards against per-board top-k, the literal dimension tables,
and the write's exact Spark job count."""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import PLAYERS_CONFIG, build_matches

K = 3


# ---- per-board reference: one top_k plan per board -------------------


def _core_only(stats, core_df):
    return stats.join(F.broadcast(core_df), "player_id", "left_semi")


def _by_game_board(stats, core_df, metric, k):
    from cod_stats_spark.engine.leaderboards import BY_GAME_METRICS
    from cod_stats_spark.operators.topk import top_k

    base = _core_only(stats, core_df).select(
        "date_key", "game_mode_sub", "game_id", "player_id",
        F.col(BY_GAME_METRICS[metric]).alias("value"),
    )
    board = top_k(
        base,
        [("value", True), ("date_key", False), ("game_id", False), ("player_id", False)],
        k,
    )
    if metric == "longestdistance":
        board = board.withColumn(
            "value",
            F.concat((F.col("value") / 1000).cast("int").cast("string"), F.lit(" km")),
        )
    return board


def _gulag_streaks(stats, core_df, flag, k):
    from cod_stats_spark.operators.streaks import run_lengths
    from cod_stats_spark.operators.topk import top_k

    base = _core_only(stats, core_df).filter(
        (F.col("gulagKills") == 1) | (F.col("gulagDeaths") == 1)
    )
    runs = run_lengths(base, ["player_id"], ["date_key", "game_id"], flag)
    streaks = (
        runs.filter(F.col(flag) == 1)
        .groupBy("player_id", "run_grp")
        .agg(
            F.min("date_key").alias("date_key"),
            F.max("date_key").alias("until_date_key"),
            F.count(F.lit(1)).alias("value"),
        )
        .drop("run_grp")
    )
    return top_k(streaks, [("value", True), ("date_key", False), ("player_id", False)], k)


def _count_board(stats, core_df, predicate, k):
    from cod_stats_spark.operators.topk import top_k

    base = (
        _core_only(stats, core_df)
        .filter(F.expr(predicate))
        .groupBy("player_id")
        .agg(F.count(F.lit(1)).alias("value"))
    )
    return top_k(base, [("value", True), ("player_id", False)], k)


def _rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


# ---- planted stats ---------------------------------------------------

CORE = ["alice", "bob", "dave", "erin"]


@pytest.fixture(scope="module")
def planted_stats(engine):
    """stats_wz-shaped rows with ties planted on every tiebreak level:
    metric values from tiny sets (value ties), two games per date
    (date_key ties → game_id decides), several players per game
    (→ player_id decides), distances that render to the same "N km",
    and independent gulag flags. Each player plays at most one game per
    date, so streak starts are distinct per player and every board has
    a total order."""
    schema = engine.stats_wz().schema
    rng = random.Random(20)
    rows = []
    for d in range(15):
        date_key = f"2021-03-{d + 1:02d}T12:00:00Z"
        for p in ["alice", "bob", "carol", "dave", "erin"]:
            side = rng.choice("ab-")
            if side == "-":
                continue
            teams = rng.choice([5, 50])
            row = {
                "date_key": date_key,
                "game_mode_sub": rng.choice(["br_brduos", "br_brtrios"]),
                "game_id": f"g{d:02d}{side}",
                "player_id": p,
                "numberOfPlayers": 100,
                "numberOfTeams": teams,
                "score": float(rng.choice([1000, 2000])),
                "scorePerMinute": 100.0,
                "kills": rng.randrange(3),
                "deaths": rng.randrange(3),
                "damageDone": rng.choice([100, 200]),
                "damageTaken": rng.choice([100, 200]),
                "gulagKills": rng.randrange(2),
                "gulagDeaths": rng.randrange(2),
                "teamPlacement": rng.choice([1, 2, teams]),
                "kdRatio": rng.choice([0.5, 1.0, 2.0]),
                "distanceTraveled": rng.choice([2500.0, 2900.0, 12000.5]),
                "headshots": rng.randrange(2),
                "objectiveBrCacheOpen": rng.randrange(2),
                "objectiveReviver": rng.randrange(2),
                "objectiveBrDownAll": rng.randrange(2),
                "objectiveDestroyedVehicleAll": rng.randrange(2),
            }
            rows.append(tuple(row[f.name] for f in schema.fields))
    return engine.spark.createDataFrame(rows, schema)


@pytest.fixture(params=["fixture", "planted"])
def board_input(request, engine, planted_stats):
    if request.param == "fixture":
        return engine.stats_wz(), engine.core_ids()
    return planted_stats, CORE


class TestFusedBoards:
    def test_by_game_boards_equal_per_board_top_k(self, spark, board_input):
        from cod_stats_spark.engine import leaderboards as lb

        stats, core = board_input
        core_df = spark.createDataFrame([(p,) for p in core], "player_id string")
        ranked = lb.ranked_by_game_boards(stats, core, K)
        want = {m: _rows(_by_game_board(stats, core_df, m, K)) for m in lb.BY_GAME_METRICS}
        assert lb.collect_boards(ranked, lb.BY_GAME_METRICS, lb.BY_GAME_COLUMNS, True) == want
        frames = lb.all_by_game_boards(stats, core, K)
        assert {m: _rows(df) for m, df in frames.items()} == want
        assert all(len(v) == K for v in want.values())

    def test_lifetime_boards_equal_per_board_top_k(self, spark, board_input):
        from cod_stats_spark.engine import leaderboards as lb

        stats, core = board_input
        core_df = spark.createDataFrame([(p,) for p in core], "player_id string")
        want = {
            b: _rows(_gulag_streaks(stats, core_df, flag, K))
            for b, flag in lb.GULAG_STREAK_FLAGS.items()
        }
        want.update(
            {b: _rows(_count_board(stats, core_df, p, K)) for b, p in lb.COUNT_PREDICATES.items()}
        )
        got = {
            **lb.collect_boards(
                lb.ranked_gulag_streaks(stats, core, K), lb.GULAG_STREAK_FLAGS, lb.STREAK_COLUMNS
            ),
            **lb.collect_boards(
                lb.ranked_count_boards(stats, core, K), lb.COUNT_PREDICATES, lb.COUNT_COLUMNS
            ),
        }
        assert got == want
        assert _rows(lb.gulag_streaks(stats, core, True, K)) == want["consecutive_gulag_kills"]
        assert _rows(lb.gulag_streaks(stats, core, False, K)) == want["consecutive_gulag_deaths"]
        assert _rows(lb.most_wins(stats, core, K)) == want["most_wins"]
        assert _rows(lb.most_last_places(stats, core, K)) == want["most_lastplaces"]

    def test_planted_ties_and_km_formatting(self, planted_stats):
        """The planted rows do tie, so the parity above exercised every
        tiebreak level and the distance display."""
        from cod_stats_spark.engine import leaderboards as lb

        doc = lb.collect_boards(
            lb.ranked_by_game_boards(planted_stats, CORE, 5), lb.BY_GAME_METRICS, lb.BY_GAME_COLUMNS, True
        )
        kills = doc["mostkills"]
        assert kills[0]["value"] == kills[1]["value"]
        keys = [(-r["value"], r["date_key"], r["game_id"], r["player_id"]) for r in kills]
        assert keys == sorted(keys)
        assert any(
            a["value"] == b["value"] and a["date_key"] == b["date_key"]
            for a, b in zip(kills, kills[1:])
        )
        km = [r["value"] for r in doc["longestdistance"]]
        assert km[0] == "12 km" and all(v.endswith(" km") for v in km)
        assert "carol" not in {r["player_id"] for rows in doc.values() for r in rows}

    def test_empty_core_gives_empty_boards(self, engine):
        from cod_stats_spark.engine import leaderboards as lb

        doc = lb.collect_boards(
            lb.ranked_by_game_boards(engine.stats_wz(), []), lb.BY_GAME_METRICS, lb.BY_GAME_COLUMNS, True
        )
        assert doc == {m: [] for m in lb.BY_GAME_METRICS}


class TestLocalDims:
    @pytest.mark.parametrize("name", ["game_modes", "seasons"])
    def test_rows_types_and_local_relation(self, spark, name):
        from cod_stats_spark.engine import dims

        build, rows, schema = {
            "game_modes": (dims.game_modes_df, dims.GAME_MODES, dims.GAME_MODES_SCHEMA),
            "seasons": (dims.seasons_df, dims.SEASONS, dims.SEASONS_SCHEMA),
        }[name]
        df = build(spark)
        assert [tuple(r) for r in df.collect()] == [tuple(r) for r in rows]
        assert df.dtypes == spark.createDataFrame(rows, schema).dtypes
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.nodeName() == "LocalRelation"
        assert "LogicalRDD" not in plan.toString()

    def test_local_df_strings_and_empty(self, spark):
        from cod_stats_spark.engine.dims import local_df

        odd = ["o'brien", "back\\slash", "ünï cødé", "new\nline", ""]
        df = local_df(spark, [(s, i) for i, s in enumerate(odd)], "name string, i int")
        assert [(r["name"], r["i"]) for r in df.collect()] == [(s, i) for i, s in enumerate(odd)]
        empty = local_df(spark, [], "player_id string, season_id string")
        assert empty.collect() == [] and empty.dtypes == [
            ("player_id", "string"), ("season_id", "string")
        ]
        assert empty._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"


# exact, deterministic: the number of Spark jobs one write_reports issues
# after silver is built (stats persist barrier, players config collect,
# 7 driver documents, 4 per-player fan-outs)
REPORT_WRITE_JOBS = 48


class TestReportJobBudget:
    def test_write_reports_job_count(self, spark, tmp_path):
        """A reintroduced per-board or per-document rescan shows up here
        as extra jobs. The engine reads its own copy of the fixture
        files, so no plan of the shared engine fixture is already cached
        and the count does not depend on test order."""
        from cod_stats_spark.engine import Engine

        mdir = tmp_path / "matches"
        mdir.mkdir()
        for gid, uno, payload in build_matches():
            (mdir / f"match_{gid}_{uno}.json").write_text(json.dumps(payload))
        pj = tmp_path / "players.json"
        pj.write_text(json.dumps(PLAYERS_CONFIG))

        eng = Engine.from_paths(spark, f"{mdir}/*.json", str(pj))
        eng.valid_games().count()
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        before = dag.numTotalJobs()
        try:
            files = eng.write_reports(str(tmp_path / "out"))
            jobs = dag.numTotalJobs() - before
        finally:
            eng.stats_wz().unpersist()
            eng.valid_games().unpersist()
        assert len(files) == len(set(files)) and all(os.path.exists(f) for f in files)
        assert jobs == REPORT_WRITE_JOBS
