"""Output checks. Each returns a list of failure messages (empty = pass).

The match-report checks recompute two documents in DuckDB straight from
the generated JSON, independent of the Spark program: the most-wins
board and the per-player session counts. The curation checks compare
stage counts with the counts the planted ground truth implies and read
the written shards back with pyarrow.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb
import pyarrow.parquet as pq

SESSION_GAP = 7200
RAW_COLUMNS = {
    "matchID": "VARCHAR",
    "utcEndSeconds": "BIGINT",
    "gameType": "VARCHAR",
    "mode": "VARCHAR",
    "player": "STRUCT(uno VARCHAR)",
    "playerStats": "STRUCT(deaths BIGINT, damageDone BIGINT, "
                   "damageTaken BIGINT, teamPlacement BIGINT)",
}


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def duckdb_truth(match_glob: str, players_json: str, tracked_modes: list[str]) -> dict:
    """Most-wins board and session count per player, from the raw JSON."""
    valid = []
    for path in sorted(glob.glob(match_glob)):
        with open(path) as f:
            try:
                json.load(f)
            except json.JSONDecodeError:
                continue
        valid.append(path)
    with open(players_json) as f:
        config = json.load(f)
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE players (uno VARCHAR, player_id VARCHAR, is_core BOOLEAN)")
        con.executemany("INSERT INTO players VALUES (?, ?, ?)", [
            (a["unoId"], p["name"].lower(), bool(p.get("isCore", False)))
            for p in config for a in p["accounts"]
        ])
        con.execute("CREATE TABLE modes (mode VARCHAR)")
        con.executemany("INSERT INTO modes VALUES (?)", [(m,) for m in tracked_modes])
        files = "[" + ", ".join(f"'{p}'" for p in valid) + "]"
        con.execute(
            f"CREATE TABLE raw AS SELECT * FROM read_json({files}, "
            "format='newline_delimited', filename=true, "
            f"columns={_struct_literal(RAW_COLUMNS)})"
        )
        con.execute(r"""
            CREATE TABLE games AS
            SELECT DISTINCT ON (game_id, uno) *
            FROM (
                SELECT regexp_extract(filename, 'match_([^_]+)_([^_/]+)\.json$', 1) AS game_id,
                       regexp_extract(filename, 'match_([^_]+)_([^_/]+)\.json$', 2) AS uno,
                       utcEndSeconds AS t, gameType, mode,
                       coalesce(playerStats.teamPlacement, -1) AS placement
                FROM raw
                WHERE playerStats.damageDone IS NOT NULL
                  AND playerStats.damageTaken IS NOT NULL
                  AND NOT (coalesce(playerStats.deaths, 0) = 0
                           AND playerStats.damageTaken = 0)
            )
        """)
        con.execute("""
            CREATE TABLE wz AS
            SELECT g.*, p.player_id, p.is_core FROM games g
            JOIN players p USING (uno)
            WHERE g.gameType = 'wz' AND g.mode IN (SELECT mode FROM modes)
        """)
        wins = con.execute("""
            SELECT player_id, count(*) AS value FROM wz
            WHERE is_core AND placement = 1
            GROUP BY player_id ORDER BY value DESC, player_id LIMIT 10
        """).fetchall()
        sessions = con.execute(f"""
            SELECT player_id, sum(CASE WHEN prev IS NULL OR t - prev >= {SESSION_GAP}
                                       THEN 1 ELSE 0 END) AS n
            FROM (SELECT player_id, t,
                         lag(t) OVER (PARTITION BY player_id ORDER BY t, game_id) AS prev
                  FROM wz)
            GROUP BY player_id
        """).fetchall()
    finally:
        con.close()
    return {
        "most_wins": [{"player_id": p, "value": int(v)} for p, v in wins],
        "sessions": {p: int(n) for p, n in sessions},
    }


def _struct_literal(cols: dict[str, str]) -> str:
    return "{" + ", ".join(f"'{k}': '{v}'" for k, v in cols.items()) + "}"


def check_reports(out_dir: str, files: list[str], truth: dict, expected_docs: int,
                  players: list[str]) -> list[str]:
    """The report document set of one refresh pass."""
    fails = []
    on_disk = sorted(
        os.path.relpath(p, out_dir)
        for p in glob.glob(os.path.join(out_dir, "**", "*.json"), recursive=True)
    )
    if len(set(files)) != expected_docs or len(on_disk) != expected_docs:
        fails.append(f"report documents: returned {len(set(files))}, on disk "
                     f"{len(on_disk)}, expected {expected_docs}")
    try:
        with open(os.path.join(out_dir, "leaderboard_lifetime.json")) as f:
            wins = [{"player_id": r["player_id"], "value": r["value"]}
                    for r in json.load(f)["most_wins"]]
        if wins != truth["most_wins"]:
            fails.append(f"most_wins {wins} != DuckDB {truth['most_wins']}")
        for p in players:
            with open(os.path.join(out_dir, "players", f"sessions_{p}.json")) as f:
                n = len(json.load(f))
            if n != truth["sessions"].get(p, 0):
                fails.append(f"sessions_{p}: {n} != DuckDB {truth['sessions'].get(p, 0)}")
    except (OSError, KeyError, TypeError, json.JSONDecodeError) as exc:
        fails.append(f"report documents unreadable: {exc!r}")
    return fails


# funnel counts whose expected value the planted classes fix
PLANTED_STAGES = ("input", "after_quality", "after_model_gate", "after_dedup",
                  "after_decontamination")


def check_stages(stats: dict, expected: dict) -> list[str]:
    """Funnel counts equal the planted truth, and every stage keeps work."""
    fails = [f"{k}: {stats.get(k)} != expected {expected[k]}"
             for k in PLANTED_STAGES if stats.get(k) != expected[k]]
    fails += [f"{k}: no survivors" for k in (*PLANTED_STAGES, "shards") if not stats.get(k)]
    return fails


def shard_doc_ids(shard_dir: str) -> list[int]:
    """Every doc id in a ``shard_id=``-partitioned parquet tree."""
    paths = sorted(glob.glob(os.path.join(shard_dir, "**", "*.parquet"), recursive=True))
    ids: list[int] = []
    for p in paths:
        ids += pq.read_table(p, columns=["doc_id"]).column("doc_id").to_pylist()
    return ids


def check_shards(ids: list[int], docs: list[dict], survivors: int,
                 manifest_docs: int) -> list[str]:
    """Written shards hold each survivor once and nothing planted for removal."""
    by_id = {d["doc_id"]: d for d in docs}
    fails = []
    if len(ids) != len(set(ids)):
        fails.append(f"{len(ids) - len(set(ids))} doc ids appear twice in the shards")
    if len(set(ids)) != survivors:
        fails.append(f"shards hold {len(set(ids))} docs, funnel reported {survivors}")
    if manifest_docs != survivors:
        fails.append(f"manifest rows count {manifest_docs} docs, expected {survivors}")
    planted = [i for i in set(ids) if by_id[i]["cls"] in ("junk", "spam", "contaminated")]
    if planted:
        fails.append(f"{len(planted)} junk, spam or contaminated docs were kept")
    fams: dict[int, int] = {}
    for i in set(ids):
        fams[by_id[i]["family"]] = fams.get(by_id[i]["family"], 0) + 1
    dup = sum(1 for n in fams.values() if n > 1)
    if dup:
        fails.append(f"{dup} duplicate families kept more than one member")
    return fails
