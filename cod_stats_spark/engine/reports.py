"""JSON report documents (reference frontend/generate_lookup_data.sh —
the S9/S10 sink family).

Every report is a SMALL result (top-k rows, per-player series) — the
heavy work happened in distributed aggregations; documents are
collected to the driver and written as single JSON files, mirroring
the reference's static-file serving layer. At cluster scale the same
DataFrames can instead be written with df.write.json per partition
key; the shapes are identical.

Job budget: each document is one collect of one plan (the lifetime
document two: streaks and counts); under AQE a collect costs one job
per shuffle stage plus one. A family of boards is one ranked frame
(engine/leaderboards.py), collected once and split per board on the
driver, so the 12 by-game boards cost 2 jobs, not 48. The whole write
is 49 jobs on the benchmark's match_refresh input (122 before); the
per-document table is in BENCH_NOTES.md.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame

from cod_stats_spark.engine import leaderboards as lb
from cod_stats_spark.engine.dims import SEASONS


def _rows(df: DataFrame) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


def write_json(path: str, payload) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f, separators=(",", ":"))


def leaderboard_bygame_doc(ranked: DataFrame) -> dict:
    """{board_key: [ {date_key, game_mode_sub, game_id, player_id, value} ]}
    from the ranked frame of :func:`leaderboards.ranked_by_game_boards`."""
    return lb.collect_boards(ranked, lb.BY_GAME_METRICS, lb.BY_GAME_COLUMNS, value_per_board=True)


def leaderboard_lifetime_doc(streaks: DataFrame, counts: DataFrame) -> dict:
    """Gulag win/loss streaks and most wins / last places, from the
    ranked frames of :func:`leaderboards.ranked_gulag_streaks` and
    :func:`leaderboards.ranked_count_boards`."""
    return {
        **lb.collect_boards(streaks, lb.GULAG_STREAK_FLAGS, lb.STREAK_COLUMNS),
        **lb.collect_boards(counts, lb.COUNT_PREDICATES, lb.COUNT_COLUMNS),
    }


def team_leaderboards_doc(breakdowns: DataFrame) -> dict:
    """{category: [breakdown rows...]} (reference :479-510)."""
    rows = _rows(breakdowns)
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["category"], []).append(r)
    for cat in out:
        out[cat].sort(key=lambda r: (-r["numGames"], r["player_ids"]))
    return out


def recent_matches_doc(recent: DataFrame) -> list:
    return _rows(recent)


def sessions_doc(session_stats: DataFrame) -> list:
    return _rows(session_stats)


def seasons_doc() -> list[dict]:
    return [
        {"id": s[0], "desc": s[1], "start": s[2], "end": s[3], "sort_order": s[4]}
        for s in SEASONS
    ]


def meta_doc(now: datetime | None = None) -> dict:
    ts = (now or datetime.now(timezone.utc)).strftime("%Y-%m-%dT%H:%M:%SZ")
    return {"updatedAt": ts}


def player_timeseries_doc(ts_rows: list[dict], frames: tuple[int, int]) -> list[dict]:
    """Nest flat frame columns back into the reference's document shape:
    {date, stats: {raw: {...}, smoothed_k: {...}, cumalative: {...}}}
    ('cumalative' typo preserved for client compatibility)."""
    k1, k2 = frames
    from cod_stats_spark.engine.timeseries import TS_METRICS

    docs = []
    for r in ts_rows:
        raw = {m: r.get(m) for m, _ in TS_METRICS}
        doc = {
            "date": r.get("date_key"),
            "stats": {
                "raw": raw,
                f"smoothed_{k1}": {m: r.get(f"{m}_{a}_s{k1}") for m, a in TS_METRICS},
                f"smoothed_{k2}": {m: r.get(f"{m}_{a}_s{k2}") for m, a in TS_METRICS},
                "cumalative": {m: r.get(f"{m}_{a}_cume") for m, a in TS_METRICS},
            },
        }
        docs.append(doc)
    return docs
