"""Inline dimension tables — literal DataFrames, broadcast-join sized.

Data values mirror the reference's dimension views (game modes:
parser/parse_matches.sh:100-156; seasons: :158-184; settings:
:186-198); the representation (python tuples → one inline VALUES
table) and everything downstream is new.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# (id, mode, category, display_name, is_plunder, is_stimulus, wz_track_stats)
GAME_MODES = [
    ("br_dmz_104", "wz", "wz_plunder", "Blood Money", True, False, False),
    ("br_dmz_plnbld", "wz", "wz_plunder", "Blood Money", True, False, False),
    ("br_dmz_85", "wz", "wz_plunder", "Plunder Duos", True, False, False),
    ("br_dmz_plndtrios", "wz", "wz_plunder", "Plunder Trios", True, False, False),
    ("br_dmz_38", "wz", "wz_plunder", "Plunder Quads", True, False, False),
    ("br_dmz_76", "wz", "wz_plunder", "Plunder Quads", True, False, False),
    ("br_dmz_plunquad", "wz", "wz_plunder", "Plunder Quads", True, False, False),
    ("br_71", "wz", "wz_solo", "Stim Solo", False, True, True),
    ("br_brbbsolo", "wz", "wz_solo", "Stim Solo", False, True, True),
    ("br_brbbduo", "wz", "wz_duos", "Stim Duos", False, True, True),
    ("br_brduostim_name2", "wz", "wz_duos", "Stim Duos", False, True, True),
    ("br_brtriostim_name2", "wz", "wz_trios", "Stim Trios", False, True, True),
    ("br_brbbquad", "wz", "wz_quads", "Stim Quads", False, True, True),
    ("br_brsolo", "wz", "wz_solo", "Solo", False, False, True),
    ("br_87", "wz", "wz_solo", "Solo", False, False, True),
    ("br_brduos", "wz", "wz_duos", "Duos", False, False, True),
    ("br_88", "wz", "wz_duos", "Duos", False, False, True),
    ("br_brtrios", "wz", "wz_trios", "Trios", False, False, True),
    ("br_25", "wz", "wz_trios", "Trios", False, False, True),
    ("br_74", "wz", "wz_trios", "Trios", False, False, True),
    ("br_brquads", "wz", "wz_quads", "Quads", False, False, True),
    ("br_89", "wz", "wz_quads", "Quads", False, False, True),
    ("br_br_quads", "wz", "wz_quads", "Quads", False, False, True),
    ("br_jugg_brtriojugr", "wz", "wz_jugtrios", "Jugg Trios", False, False, True),
    ("br_jugg_brquadjugr", "wz", "wz_jugquads", "Jugg Quads", False, False, True),
    ("br_mini_miniroyale", "wz", "wz_mini", "Mini Royale", False, False, True),
    ("br_brthquad", "wz", "wz_quads", "Quads 200", False, False, True),
    ("br_br_real", "wz", "wz_realism", "Realism BR", False, False, True),
    ("br_86", "wz", "wz_realism", "Realism BR", False, False, True),
    ("br_brsolohwn", "wz", "wz_solo", "Night Solo", False, False, True),
    ("br_brduohwn", "wz", "wz_duos", "Night Duos", False, False, True),
    ("br_brhwntrios", "wz", "wz_trios", "Night Trios", False, False, True),
    ("br_brhwnquad", "wz", "wz_quads", "Night Quads", False, False, True),
    ("br_wsow_br_trios", "wz", "wz_trios", "WSOW Trios", False, False, True),
    ("br_vg_royale_solo", "wz", "wz_solo", "Vanguard Solo", False, False, True),
    ("br_vg_royale_duos", "wz", "wz_duos", "Vanguard Duos", False, False, True),
    ("br_vg_royale_quads", "wz", "wz_quads", "Vanguard Quads", False, False, True),
    ("br_77", "wz", "wz_scopescatter", "BR Scopes & Scattergun", False, False, False),
    ("brtdm_113", "wz", "wz_rumble", "Warzone Rumble", False, False, False),
    ("br_kingslayer_kingsltrios", "wz", "wz_kingtrios", "Kingslayer Trios", False, False, False),
    ("br_truckwar_trwarsquads", "wz", "wz_armoredquads", "Armored Royale", False, True, False),
    ("br_zxp_zmbroy", "wz", "wz_zombietrios", "Zombie Trios", False, True, False),
]

GAME_MODES_SCHEMA = (
    "id string, mode string, category string, display_name string, "
    "is_plunder boolean, is_stimulus boolean, wz_track_stats boolean"
)

# (id, desc, start, end, sort_order) — ISO-8601 UTC strings; 'lifetime'
# deliberately overlaps every season (SURVEY.md §7.4.11).
SEASONS = [
    ("lifetime", "Lifetime", "1970-01-01T00:00:01Z", "2286-11-20T17:46:38Z", 1),
    ("season01", "Season 1", "1970-01-01T00:00:01Z", "2020-02-11T17:59:59Z", 18),
    ("season02", "Season 2", "2020-02-11T18:00:00Z", "2020-04-07T23:59:59Z", 17),
    ("season03", "Season 3", "2020-04-08T00:00:00Z", "2020-06-11T02:59:59Z", 16),
    ("season04", "Season 4", "2020-06-11T03:00:00Z", "2020-08-04T23:59:59Z", 15),
    ("season05", "Season 5", "2020-08-05T00:00:00Z", "2020-09-28T23:59:59Z", 14),
    ("season06", "Season 6", "2020-09-29T00:00:00Z", "2020-12-16T23:59:59Z", 13),
    ("season11", "Season BO1", "2020-12-17T00:00:00Z", "2021-02-25T23:59:59Z", 12),
    ("season12", "Season BO2", "2021-02-26T00:00:00Z", "2021-04-21T23:59:59Z", 11),
    ("season13", "Season BO3", "2021-04-22T00:00:00Z", "2021-06-16T23:59:59Z", 10),
    ("season14", "Season BO4", "2021-06-17T00:00:00Z", "2021-08-12T23:59:59Z", 9),
    ("season15", "Season BO5", "2021-08-13T00:00:00Z", "2021-10-06T23:59:59Z", 8),
    ("season16", "Season BO6", "2021-10-07T00:00:00Z", "2021-12-07T23:59:59Z", 7),
    ("season21", "Season VG1", "2021-12-08T00:00:00Z", "2022-03-22T15:59:59Z", 6),
    ("season22", "Season VG2", "2022-03-22T16:00:00Z", "2022-04-27T15:59:59Z", 5),
    ("season23", "Season VG3", "2022-04-27T16:00:00Z", "2022-06-22T11:59:59Z", 4),
    ("season24", "Season VG4", "2022-06-22T12:00:00Z", "2022-08-24T15:59:59Z", 3),
    ("season25", "Season VG5", "2022-08-24T16:00:00Z", "2027-08-11T23:59:59Z", 2),
]

SEASONS_SCHEMA = "id string, descr string, start string, end string, sort_order int"

MONSTER_KILLS_THRESHOLD = 8
SESSION_DELTA_SECONDS = 2 * 60 * 60  # 2h inactivity gap splits sessions

# open-ended session sentinel: epoch 9999999999 − 1 formatted, matching
# the reference's ifnull(lead(...), 9999999999) − 1 (parse_matches.sh:326)
SESSION_OPEN_END_EPOCH = 9_999_999_999


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    # strings travel as UTF-8 hex and are cast back: no quoting or
    # escaping rules to get wrong, whatever the parser settings
    return f"X'{str(v).encode().hex()}'"


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small literal table as a ``LocalRelation`` (one inline VALUES
    table), with the column names and types of the DDL ``schema``
    ("name type, ..."; simple types only).

    ``spark.createDataFrame(list)`` goes through ``parallelize`` to a
    ``LogicalRDD``, so every scan of it schedules Python-worker tasks;
    a local relation is folded by the optimizer and scanned from the
    driver's memory (Spark SQL's LocalRelation).
    """
    cols = [c.strip().split(None, 1) for c in schema.split(",")]
    values = [tuple(r) for r in rows] or [(None,) * len(cols)]
    body = ", ".join(
        "(" + ", ".join(_sql_literal(v) for v in r) + ")" for r in values
    )
    select = ", ".join(
        f"CAST(c{i} AS {typ}) AS `{name}`" for i, (name, typ) in enumerate(cols)
    )
    aliases = ", ".join(f"c{i}" for i in range(len(cols)))
    where = "" if rows else " WHERE FALSE"
    return spark.sql(f"SELECT {select} FROM VALUES {body} AS t({aliases}){where}")


def game_modes_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, GAME_MODES, GAME_MODES_SCHEMA)


def seasons_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, SEASONS, SEASONS_SCHEMA)
