"""Gold fact view ``stats_wz`` (reference vw_stats_wz,
parser/parse_matches.sh:223-279): silver ⋈ players (account → display
player) filtered to tracked warzone modes.

Broadcast joins only — the fact side never shuffles here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cod_stats_spark.engine.dims import GAME_MODES

METRIC_COLUMNS = [
    "score",
    "scorePerMinute",
    "kills",
    "deaths",
    "damageDone",
    "damageTaken",
    "gulagKills",
    "gulagDeaths",
    "teamPlacement",
    "kdRatio",
    "distanceTraveled",
    "headshots",
    "objectiveBrCacheOpen",
    "objectiveReviver",
    "objectiveBrDownAll",
    "objectiveDestroyedVehicleAll",
]


def tracked_mode_ids() -> list[str]:
    return [m[0] for m in GAME_MODES if m[6]]  # wz_track_stats


def stats_wz(valid_games: DataFrame, players: DataFrame) -> DataFrame:
    """One row per (game, display player) over tracked 'wz' modes."""
    return (
        valid_games.filter(
            (F.col("game_mode") == "wz") & F.col("game_mode_sub").isin(tracked_mode_ids())
        )
        .join(
            F.broadcast(players.select("player_uno_id", "player_id")),
            "player_uno_id",
            "inner",
        )
        .select(
            "date_key",
            "game_mode_sub",
            "game_id",
            "player_id",
            "numberOfPlayers",
            "numberOfTeams",
            *METRIC_COLUMNS,
        )
    )


def core_only(stats: DataFrame, core_ids: Sequence[str]) -> DataFrame:
    """Rows of core players (reference vw_core_players). Core membership
    is a driver-side constant (the players config is collected once per
    Engine): a literal IN filter folds into the plan, while a join
    against the players dimension rescans and re-broadcasts it per plan."""
    return stats.filter(F.col("player_id").isin(list(core_ids)))


def stats_struct() -> F.Column:
    """The per-row stats struct used in reports (vw_stats_wz's json_object)."""
    return F.struct(
        F.col("numberOfPlayers"),
        F.col("numberOfTeams"),
        *[F.col(c) for c in METRIC_COLUMNS],
    )
