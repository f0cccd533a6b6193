"""Leaderboards (reference frontend/generate_lookup_data.sh:93-512).

- by-game boards: top-10 single-game values for 12 metrics
- lifetime boards: consecutive gulag win/loss streaks (the DENSE_RANK
  difference trick, SURVEY W7), most wins, most last places
- recent matches (15), recent sessions (top-1 session per player)

All boards get a deterministic tiebreak (metric DESC, date_key, game_id,
player_id) — SQL LIMIT alone cuts ties arbitrarily (SURVEY.md §7.4.8).

Boards of one family are computed in ONE ranked pass: the family's
rows are stacked as (board, value), ranked with ``row_number`` per
board, and kept while rank <= k. A report document collects the ranked
frame once and splits it per board on the driver
(:func:`collect_boards`); a single board as a DataFrame is a filter of
the same ranked frame (:func:`board_frames`). At this scale a Spark job
is the unit of cost, so 12 boards in one job beat 12 top-k jobs.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cod_stats_spark.engine.stats import core_only
from cod_stats_spark.operators.streaks import run_lengths
from cod_stats_spark.operators.topk import top_k, top_k_per_group

LEADERBOARD_K = 10
RECENT_MATCHES_K = 15

# board key → stats_wz column (the 12 by-game metrics)
BY_GAME_METRICS = {
    "mostkills": "kills",
    "mostdeaths": "deaths",
    "bestkd": "kdRatio",
    "mostdamage": "damageDone",
    "mostdamagetaken": "damageTaken",
    "highestscore": "score",
    "longestdistance": "distanceTraveled",
    "mostheadshots": "headshots",
    "mostcaches": "objectiveBrCacheOpen",
    "mostrevives": "objectiveReviver",
    "mostdowns": "objectiveBrDownAll",
    "mostvehicles": "objectiveDestroyedVehicleAll",
}

# lifetime boards, keyed by their name in leaderboard_lifetime.json
GULAG_STREAK_FLAGS = {
    "consecutive_gulag_kills": "gulagKills",
    "consecutive_gulag_deaths": "gulagDeaths",
}
COUNT_PREDICATES = {
    "most_wins": "teamPlacement = 1",
    "most_lastplaces": "teamPlacement = numberOfTeams",
}

# output columns of each board family, in document key order
BOARD_KEYS = ["date_key", "game_mode_sub", "game_id", "player_id"]
BY_GAME_COLUMNS = [*BOARD_KEYS, "value"]
STREAK_COLUMNS = ["player_id", "date_key", "until_date_key", "value"]
COUNT_COLUMNS = ["player_id", "value"]


def _stack(boards: dict[str, str], value_type: str | None = None) -> F.Column:
    """Generator of one (board, value) row per board; ``boards`` maps a
    board key to its source column."""
    return F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("board"),
                    (F.col(c).cast(value_type) if value_type else F.col(c)).alias("value"),
                )
                for b, c in boards.items()
            ]
        )
    )


def _by_game_value(metric: str) -> F.Column:
    """A by-game board's displayed value. longestdistance renders as
    the reference's 'cast((distanceTraveled/1000) as int) || " km"'
    (generate_lookup_data.sh:215) while still RANKING on the raw
    meters value."""
    col = F.col(BY_GAME_METRICS[metric])
    if metric == "longestdistance":
        return F.concat((col / 1000).cast("int").cast("string"), F.lit(" km"))
    return col


def ranked_by_game_boards(stats: DataFrame, core_ids: Sequence[str], k: int = LEADERBOARD_K) -> DataFrame:
    """All 12 by-game boards in one ranked pass: (board, rn, board keys,
    one displayed-value column per board key). Ranking is on the metric
    cast to double, so every board shares one window; the displayed
    value keeps the metric's own type (the JSON bytes depend on it)."""
    stacked = core_only(stats, core_ids).select(
        *BOARD_KEYS,
        *[_by_game_value(m).alias(m) for m in BY_GAME_METRICS],
        _stack(BY_GAME_METRICS, "double"),
    )
    return top_k_per_group(
        stacked,
        ["board"],
        [("value", True), ("date_key", False), ("game_id", False), ("player_id", False)],
        k,
        keep_rank=True,
    )


def ranked_gulag_streaks(stats: DataFrame, core_ids: Sequence[str], k: int = LEADERBOARD_K) -> DataFrame:
    """Top-k longest consecutive gulag win AND loss streaks, one
    ``run_lengths`` pass over both flags (the run key is (board, player)).

    Reference filter: only rows where a gulag happened (gulagKills=1 OR
    gulagDeaths=1); runs of the win (loss) flag within that subsequence."""
    base = (
        core_only(stats, core_ids)
        .filter((F.col("gulagKills") == 1) | (F.col("gulagDeaths") == 1))
        .select("player_id", "date_key", "game_id", _stack(GULAG_STREAK_FLAGS))
    )
    runs = run_lengths(base, ["board", "player_id"], ["date_key", "game_id"], "value")
    streaks = (
        runs.filter(F.col("value") == 1)
        .groupBy("board", "player_id", "run_grp")
        .agg(
            F.min("date_key").alias("date_key"),
            F.max("date_key").alias("until_date_key"),
            F.count(F.lit(1)).alias("value"),
        )
        .drop("run_grp")
    )
    return top_k_per_group(
        streaks,
        ["board"],
        [("value", True), ("date_key", False), ("player_id", False)],
        k,
        keep_rank=True,
    )


def ranked_count_boards(stats: DataFrame, core_ids: Sequence[str], k: int = LEADERBOARD_K) -> DataFrame:
    """Per-player count of games matching each predicate (most wins
    teamPlacement=1; most last places teamPlacement=numberOfTeams), top-k
    per board from one aggregation. Players with no such game are not
    on the board."""
    counts = core_only(stats, core_ids).groupBy("player_id").agg(
        *[F.count(F.when(F.expr(p), 1)).alias(b) for b, p in COUNT_PREDICATES.items()]
    )
    stacked = counts.select(
        "player_id", _stack({b: b for b in COUNT_PREDICATES})
    ).filter(F.col("value") > 0)
    return top_k_per_group(
        stacked, ["board"], [("value", True), ("player_id", False)], k, keep_rank=True
    )


def _source(board: str, col: str, value_per_board: bool) -> str:
    # the ranked-frame column an output column reads: the by-game boards
    # keep their displayed value in the column named after the board
    return board if value_per_board and col == "value" else col


def board_frames(
    ranked: DataFrame, boards: Iterable[str], columns: list[str], value_per_board: bool = False
) -> dict[str, DataFrame]:
    """Each board of a ranked frame as its own top-k DataFrame, in rank order."""
    return {
        b: ranked.filter(F.col("board") == b)
        .orderBy("rn")
        .select(*[F.col(_source(b, c, value_per_board)).alias(c) for c in columns])
        for b in boards
    }


def collect_boards(
    ranked: DataFrame, boards: Iterable[str], columns: list[str], value_per_board: bool = False
) -> dict[str, list[dict]]:
    """Every board of a ranked frame from ONE collect, split per board
    on the driver: {board: [row dicts in rank order]}."""
    rows = sorted(ranked.collect(), key=lambda r: r["rn"])
    return {
        b: [{c: r[_source(b, c, value_per_board)] for c in columns} for r in rows if r["board"] == b]
        for b in boards
    }


def all_by_game_boards(stats: DataFrame, core_ids: Sequence[str], k: int = LEADERBOARD_K) -> dict[str, DataFrame]:
    return board_frames(
        ranked_by_game_boards(stats, core_ids, k), BY_GAME_METRICS, BY_GAME_COLUMNS, True
    )


def gulag_streaks(stats: DataFrame, core_ids: Sequence[str], wins: bool, k: int = LEADERBOARD_K) -> DataFrame:
    board = "consecutive_gulag_kills" if wins else "consecutive_gulag_deaths"
    return board_frames(ranked_gulag_streaks(stats, core_ids, k), [board], STREAK_COLUMNS)[board]


def most_wins(stats: DataFrame, core_ids: Sequence[str], k: int = LEADERBOARD_K) -> DataFrame:
    board = "most_wins"
    return board_frames(ranked_count_boards(stats, core_ids, k), [board], COUNT_COLUMNS)[board]


def most_last_places(stats: DataFrame, core_ids: Sequence[str], k: int = LEADERBOARD_K) -> DataFrame:
    board = "most_lastplaces"
    return board_frames(ranked_count_boards(stats, core_ids, k), [board], COUNT_COLUMNS)[board]


def recent_matches(full_games: DataFrame, k: int = RECENT_MATCHES_K) -> DataFrame:
    """Most recent k games with roster (reference :514-549)."""
    return top_k(full_games, [("date_key", True), ("game_id", False)], k)
