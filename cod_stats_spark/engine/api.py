"""Engine facade: the one-stop API a reference user migrates to.

    eng = Engine.from_paths(spark, matches_glob, players_json)
    eng.stats_wz()                   # gold fact DataFrame
    eng.daily() / eng.by_game()      # rollups
    eng.sessions() / eng.session_stats()
    eng.leaderboards()               # dict of top-10 boards
    eng.team_breakdowns()
    eng.daily_timeseries()
    eng.write_reports(out_dir)       # the static-site JSON documents

Materialization: the silver fact table is persisted on first access
(the reference's drop-and-rebuild materialized table, SURVEY.md §4) —
every downstream view reuses it instead of re-parsing JSON.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cod_stats_spark.engine import (
    ingest,
    leaderboards as lb,
    normalize,
    rollups,
    sessions as sess,
    stats as st,
    teams,
    timeseries as tsm,
)
from cod_stats_spark.engine.dims import SEASONS, game_modes_df, local_df, seasons_df
from cod_stats_spark.engine import reports as rep


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        bronze: DataFrame,
        players: DataFrame,
        matches_path: str | None = None,
    ):
        from cod_stats_spark.session import prep_session

        # date_key derivation (from_unixtime) and the oracle dialect both
        # assume UTC + non-ANSI; normalize regardless of who built the session
        prep_session(spark)
        self.spark = spark
        self.bronze = bronze
        self.players = players
        self._matches_path = matches_path
        self._silver: DataFrame | None = None
        self._stats: DataFrame | None = None
        self._player_ids: tuple[list[str], list[str]] | None = None

    @classmethod
    def from_paths(cls, spark: SparkSession, matches_path: str, players_json: str) -> "Engine":
        return cls(
            spark,
            ingest.read_matches(spark, matches_path),
            ingest.read_players_config(spark, players_json),
            matches_path=matches_path,
        )

    # ---- layers

    def valid_games(self) -> DataFrame:
        if self._silver is None:
            self._silver = normalize.normalize_matches(self.bronze, self.players).persist()
        return self._silver

    def stats_wz(self) -> DataFrame:
        if self._stats is None:
            self._stats = st.stats_wz(self.valid_games(), self.players).persist()
        return self._stats

    def player_ids(self) -> tuple[list[str], list[str]]:
        """(every display player, the core players), sorted — the players
        config collected ONCE per Engine, on first use. Boards filter on
        the core list as a literal; the per-player documents fan out
        over the full list."""
        if self._player_ids is None:
            # one row per account: a handful, deduplicated here rather
            # than by a distinct's extra shuffle job
            rows = self.players.select("player_id", "is_core").collect()
            self._player_ids = (
                sorted({r["player_id"] for r in rows}),
                sorted({r["player_id"] for r in rows if r["is_core"]}),
            )
        return self._player_ids

    def core_ids(self) -> list[str]:
        return self.player_ids()[1]

    def core(self) -> DataFrame:
        """Distinct core display players (reference vw_core_players)."""
        return local_df(self.spark, [(p,) for p in self.core_ids()], "player_id string")

    def modes(self) -> DataFrame:
        return game_modes_df(self.spark)

    def seasons(self) -> DataFrame:
        return seasons_df(self.spark)

    def unknown_modes_wz(self) -> DataFrame:
        return normalize.unknown_modes_wz(self.bronze)

    def unknown_modes_mp(self) -> DataFrame:
        return normalize.unknown_modes_mp(self.bronze)

    def corrupt_matches(self) -> DataFrame:
        if self._matches_path is None:
            raise ValueError("corrupt_matches requires Engine.from_paths")
        return ingest.corrupt_matches(self.spark, self._matches_path)

    # ---- analytics

    def sessions(self) -> DataFrame:
        return sess.player_sessions(self.stats_wz())

    def session_stats(self) -> DataFrame:
        return sess.session_stats(self.stats_wz())

    def recent_sessions(self) -> DataFrame:
        return sess.latest_session_per_player(self.session_stats())

    def daily(self) -> DataFrame:
        return rollups.daily_stats(self.stats_wz())

    def by_game(self) -> DataFrame:
        return rollups.by_game_stats(self.stats_wz(), self.modes())

    def season_rollup(self) -> DataFrame:
        return rollups.season_rollup(self.stats_wz())

    def placement_pivot(self) -> DataFrame:
        return rollups.placement_by_category(self.stats_wz(), self.modes())

    def leaderboards(self, k: int = lb.LEADERBOARD_K) -> dict[str, DataFrame]:
        return lb.all_by_game_boards(self.stats_wz(), self.core_ids(), k)

    def gulag_streaks(self, wins: bool = True) -> DataFrame:
        return lb.gulag_streaks(self.stats_wz(), self.core_ids(), wins)

    def most_wins(self) -> DataFrame:
        return lb.most_wins(self.stats_wz(), self.core_ids())

    def most_last_places(self) -> DataFrame:
        return lb.most_last_places(self.stats_wz(), self.core_ids())

    def full_game_stats(self) -> DataFrame:
        return teams.full_game_stats(self.stats_wz(), self.core_ids())

    def team_breakdowns(self) -> DataFrame:
        return teams.team_stat_breakdowns(self.stats_wz(), self.core_ids())

    def recent_matches(self) -> DataFrame:
        return lb.recent_matches(self.full_game_stats())

    def daily_timeseries(self) -> DataFrame:
        return tsm.daily_timeseries(self.daily())

    def by_game_timeseries(self) -> DataFrame:
        return tsm.by_game_timeseries(self.by_game())

    def seasonal_daily_timeseries(self) -> DataFrame:
        return tsm.seasonal_daily_timeseries(self.daily(), self.seasons())

    def seasonal_by_game_timeseries(self) -> DataFrame:
        return tsm.seasonal_by_game_timeseries(self.by_game(), self.seasons())

    def player_season_stats(self) -> DataFrame:
        """Season rollup ⋈ placement pivot USING (player_id, season_id) —
        the reference's J6 composite-key join (generate_lookup_data.sh:687-698)."""
        return self.season_rollup().join(
            self.placement_pivot(), ["player_id", "season_id"], "left"
        )

    # ---- SQL API surface

    VIEW_BUILDERS = {
        "valid_games": "valid_games",
        "stats_wz": "stats_wz",
        "player_sessions": "sessions",
        "player_sessions_with_stats": "session_stats",
        "player_stats_by_day_wz": "daily",
        "player_stats_by_game_wz": "by_game",
        "team_stat_breakdowns": "team_breakdowns",
        "full_game_stats": "full_game_stats",
        "season_rollup": "season_rollup",
        "game_modes": "modes",
        "seasons": "seasons",
        "unknown_modes_wz": "unknown_modes_wz",
        "unknown_modes_mp": "unknown_modes_mp",
    }

    def register_views(self, prefix: str = "") -> list[str]:
        """Expose the whole view stack to spark.sql() — the reference
        user's SQL workflow keeps working (views are code, not state:
        recreated per session, SURVEY §1.3)."""
        names = []
        for view, method in self.VIEW_BUILDERS.items():
            name = f"{prefix}{view}"
            getattr(self, method)().createOrReplaceTempView(name)
            names.append(name)
        return names

    def sql(self, query: str) -> DataFrame:
        self.register_views()
        return self.spark.sql(query)

    # ---- serving layer

    def write_reports(self, out_dir: str, now=None) -> list[str]:
        """Emit the static-site JSON documents (reference stage 3).

        Top-k documents (boards, recents, dims) are tiny by
        construction and collected to the driver. Per-player documents
        are written DISTRIBUTED: each (player, season) group is folded
        to one row executor-side and written from foreachPartition, so
        the driver never holds the full timeseries/session row set
        (``out_dir`` must be driver+executor-visible storage — true in
        local mode and for shared filesystems/object stores).
        """
        from concurrent.futures import ThreadPoolExecutor

        # Materialize the shared silver/stats persists and collect the
        # players config ONCE, before the pool: the lazy builders are
        # not thread-safe, and two concurrent first-actions would
        # compute the same persisted partitions twice (the
        # semantic_dedup argmin-race lesson).
        self.stats_wz().count()
        self.player_ids()

        # Every document below reads the SAME materialized stats and
        # is independent of the others, so their Spark actions overlap
        # in one flat driver pool (guide §2.6 — actions are only
        # sequential because driver code calls them sequentially). At
        # this scale a job is the unit of cost: each driver document is
        # one collect (the 12 by-game boards one ranked pass; the 4
        # lifetime boards two), each per-player fan-out one
        # foreachPartition, 49 jobs in all on the benchmark's input —
        # the per-document budget is in BENCH_NOTES.md. Results are
        # byte-identical: each payload is built from its own
        # deterministic collect, and the files are written in the same
        # fixed order as before.
        core = self.core_ids()
        docs: list[tuple[str, object]] = [
            ("leaderboard_bygame.json",
             lambda: rep.leaderboard_bygame_doc(
                 lb.ranked_by_game_boards(self.stats_wz(), core))),
            ("leaderboard_lifetime.json",
             lambda: rep.leaderboard_lifetime_doc(
                 lb.ranked_gulag_streaks(self.stats_wz(), core),
                 lb.ranked_count_boards(self.stats_wz(), core),
             )),
            ("team_leaderboards.json",
             lambda: rep.team_leaderboards_doc(self.team_breakdowns())),
            ("recent_matches.json",
             lambda: rep.recent_matches_doc(self.recent_matches())),
            ("recent_sessions.json",
             lambda: rep.sessions_doc(self.recent_sessions())),
            ("seasons.json", lambda: rep.seasons_doc()),
            ("meta.json", lambda: rep.meta_doc(now)),
        ]
        written = []
        with ThreadPoolExecutor(max_workers=4) as pool:
            # the fan-outs are the longest tasks: submitted first
            fanouts = [(pool.submit(write), paths)
                       for write, paths in self._player_doc_writers(out_dir)]
            futures = [(rel, pool.submit(fn)) for rel, fn in docs]
            for rel, fut in futures:
                path = os.path.join(out_dir, rel)
                rep.write_json(path, fut.result())
                written.append(path)
            for fut, paths in fanouts:
                fut.result()
                written += paths
        return written

    # per-player document fan-out ------------------------------------

    PLAYER_DOC_SORTS = {
        "time": ["date_key"],
        "game": ["date_key", "mode", "kills", "game_id"],
    }

    def _player_season_combos(self) -> tuple[list[str], list[str]]:
        """Players × seasons that get a per-player document.

        Season ids come straight from the static seasons dim — the
        reference iterates ALL of vw_seasons when emitting per-player
        docs (generate_lookup_data.sh:892-932), writing empty documents
        for seasons without data; deriving the list from the data (a
        full seasonal rollup, as done through round 2) both cost a
        wasted aggregation pass per write_reports and skipped the
        empty-season docs the reference serves.
        """
        return self.player_ids()[0], sorted(s[0] for s in SEASONS)

    @staticmethod
    def _grouped_rows(df: DataFrame, group_cols: list[str], sort_cols: list[str]) -> DataFrame:
        """One row per group: (group_cols..., rows) with ``rows`` the
        group's full rows sorted by ``sort_cols`` (original column
        order preserved via the k/v struct trick — sort_array orders
        structs field-by-field)."""
        from pyspark.sql import functions as F

        kv = F.struct(
            F.struct(*[F.col(c) for c in sort_cols]).alias("k"),
            F.struct(*[F.col(c) for c in df.columns]).alias("v"),
        )
        return df.groupBy(*group_cols).agg(
            F.transform(F.array_sort(F.collect_list(kv)), lambda x: x["v"]).alias("rows")
        )

    @staticmethod
    def _foreach_write(df: DataFrame, out_dir: str, rel_template: str, payload_fn) -> None:
        """Executor-side writer: each row becomes one JSON file.
        ``payload_fn`` must be self-contained (pickled by value) —
        module references would require the package on worker paths."""

        def write_part(it):
            import json as _json
            import os as _os

            for r in it:
                d = r.asDict(recursive=True)
                path = _os.path.join(out_dir, rel_template.format(**d))
                _os.makedirs(_os.path.dirname(path), exist_ok=True)
                with open(path, "w") as f:
                    _json.dump(payload_fn(d.get("rows") or []), f, separators=(",", ":"))

        df.foreachPartition(write_part)

    def _player_doc_writers(self, out_dir: str) -> list[tuple[object, list[str]]]:
        """The 4 per-player fan-outs as (write thunk, paths it writes).

        Each thunk builds its plan and runs its one foreachPartition
        job, so write_reports can run them as peers of the driver
        documents; the paths come from the driver-side player and
        season lists, in the order the documents are keyed."""
        from cod_stats_spark.engine.timeseries import TS_METRICS

        players, season_ids = self._player_season_combos()
        per_season = [(p, s) for p in players for s in season_ids]
        per_player = [(p,) for p in players]
        metrics = [tuple(m) for m in TS_METRICS]  # plain data → by-value pickle

        def ts_payload(frames):
            k1, k2 = frames

            def build(rows):
                return [
                    {
                        "date": r.get("date_key"),
                        "stats": {
                            "raw": {m: r.get(m) for m, _ in metrics},
                            f"smoothed_{k1}": {m: r.get(f"{m}_{a}_s{k1}") for m, a in metrics},
                            f"smoothed_{k2}": {m: r.get(f"{m}_{a}_s{k2}") for m, a in metrics},
                            "cumalative": {m: r.get(f"{m}_{a}_cume") for m, a in metrics},
                        },
                    }
                    for r in rows
                ]

            return build

        identity = lambda rows: rows  # noqa: E731

        def writer(build, group_cols, sort_cols, keys, template, payload_fn):
            def write() -> None:
                frame = local_df(
                    self.spark, keys, ", ".join(f"{c} string" for c in group_cols)
                )
                grouped = self._grouped_rows(build(), group_cols, sort_cols)
                full = frame.join(grouped, group_cols, "left")  # empty combos → []
                self._foreach_write(full, out_dir, template, payload_fn)

            paths = [
                os.path.join(out_dir, template.format(**dict(zip(group_cols, key))))
                for key in keys
            ]
            return write, paths

        return [
            writer(
                self.seasonal_daily_timeseries,
                ["player_id", "season_id"],
                self.PLAYER_DOC_SORTS["time"],
                per_season,
                "players/{player_id}_{season_id}_time_wz.json",
                ts_payload((3, 7)),
            ),
            writer(
                self.seasonal_by_game_timeseries,
                ["player_id", "season_id"],
                self.PLAYER_DOC_SORTS["game"],
                per_season,
                "players/{player_id}_{season_id}_game_wz.json",
                ts_payload((10, 25)),
            ),
            writer(
                self.player_season_stats,
                ["player_id"],
                ["sort_order"],
                per_player,
                "players/{player_id}_player_stats.json",
                identity,
            ),
            writer(
                self.session_stats,
                ["player_id"],
                ["session_number"],
                per_player,
                "players/sessions_{player_id}.json",
                identity,
            ),
        ]

    def _write_player_docs_driver_side(self, out_dir: str) -> list[str]:
        """Legacy driver-side fan-out (collect everything, loop in
        Python). Kept ONLY as the behavioral reference for the
        distributed-vs-driver parity test; O(all rows) driver memory
        makes it unsuitable beyond hobby scale."""
        written = []

        def emit(rel: str, payload) -> None:
            path = os.path.join(out_dir, rel)
            rep.write_json(path, payload)
            written.append(path)

        players, season_ids = self._player_season_combos()
        day_rows = [r.asDict() for r in self.seasonal_daily_timeseries().collect()]
        game_rows = [r.asDict() for r in self.seasonal_by_game_timeseries().collect()]
        gkey = self.PLAYER_DOC_SORTS["game"]
        for p in players:
            for sid in season_ids:
                prows = sorted(
                    (r for r in day_rows if r["player_id"] == p and r["season_id"] == sid),
                    key=lambda r: r["date_key"],
                )
                emit(f"players/{p}_{sid}_time_wz.json", rep.player_timeseries_doc(prows, (3, 7)))
                grows = sorted(
                    (r for r in game_rows if r["player_id"] == p and r["season_id"] == sid),
                    key=lambda r: tuple(r[c] for c in gkey),
                )
                emit(f"players/{p}_{sid}_game_wz.json", rep.player_timeseries_doc(grows, (10, 25)))

        season_stats = [r.asDict() for r in self.player_season_stats().collect()]
        for p in players:
            rows_p = sorted(
                (r for r in season_stats if r["player_id"] == p),
                key=lambda r: r["sort_order"],
            )
            emit(f"players/{p}_player_stats.json", rows_p)

        per_player_sessions = [r.asDict(recursive=True) for r in self.session_stats().collect()]
        for p in players:
            emit(
                f"players/sessions_{p}.json",
                sorted(
                    (r for r in per_player_sessions if r["player_id"] == p),
                    key=lambda r: r["session_number"],
                ),
            )
        return written


def write_silver(
    valid_games: DataFrame,
    path: str,
    partition_by_day: bool = True,
    bucket_by_player: int | None = None,
    table_name: str = "valid_games",
) -> None:
    """Cluster-scale silver materialization (the persist() used by
    Engine is the local-mode shortcut).

    - Partitioned by day: season/day queries (P9, A5, A6) prune
      partitions instead of scanning history.
    - Optional bucketing by player_uno_id: sessionization, per-player
      time-series, and the stats_wz join then read co-located data —
      the per-player window sorts shuffle nothing across executors.
    """
    from pyspark.sql import functions as F

    df = valid_games
    if partition_by_day:
        df = df.withColumn("dt", F.substring("date_key", 1, 10))
    writer = df.write.mode("overwrite")
    if partition_by_day:
        writer = writer.partitionBy("dt")
    if bucket_by_player:
        # bucketBy requires saveAsTable (metastore-backed)
        writer.bucketBy(bucket_by_player, "player_uno_id").sortBy(
            "player_uno_id", "date_key"
        ).option("path", path).saveAsTable(table_name)
    else:
        writer.parquet(path)


def search_players(players: DataFrame, query: str, k: int = 10) -> DataFrame:
    """Fuzzy player lookup (the reference's query_player.ts utility,
    SURVEY S12): rank by exact-prefix, substring, then edit distance."""
    from pyspark.sql import functions as F

    q = query.lower()
    scored = players.select(
        "player_id",
        "player_uno_id",
        "is_core",
        F.when(F.col("player_id").startswith(q), 0)
        .when(F.col("player_id").contains(q), 1)
        .otherwise(2)
        .alias("tier"),
        F.levenshtein(F.col("player_id"), F.lit(q)).alias("distance"),
    )
    return scored.orderBy("tier", "distance", "player_id").limit(k)
