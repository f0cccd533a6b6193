"""Seeded match-history generator for the ``match_refresh`` workload.

Writes one JSON document per (match, player) in the reference's filename
contract (``match_{matchId}_{unoId}.json``) plus a ``players.json``
config, and returns the ground truth the output checks need. The same
seed gives the same bytes.

Edge cases covered (FIXTURES.md sections 1 and 4):

- 12 players in four squads of three; two players own two accounts; the
  fourth squad is non-core;
- trios, duos, quads and solo games, with full-team and partial-team
  rosters, a cross-squad quads stack, stimulus modes, untracked modes,
  unknown ``wz`` modes and ``mp`` games;
- null stat fields (including null damage, which drops the row), the
  bugged ``deaths = 0 and damageTaken = 0`` rows, 0-kill and 8+-kill
  games, placement 1 and placement = teamCount;
- sessions separated by gaps above two hours, single-game sessions, and
  one gap of exactly 7200 s per squad;
- games on both sides of several season boundaries;
- 1% corrupt (truncated) files and 1% duplicate keys, re-fetched into
  a second directory with identical bytes.

The number of sessions, games, game kinds and files is the same for
every seed; the seed draws times, modes, rosters and stats.
"""

from __future__ import annotations

import json
import os
import random

# 2020-01-20T00:00:00Z .. ~2021-01-20: season01 through season11
TIMELINE_START = 1_579_478_400
TIMELINE_DAYS = 366
SESSION_GAP = 7200

SQUADS = [
    ["alpha", "bravo", "charlie"],
    ["delta", "echo", "foxtrot"],
    ["golf", "hotel", "india"],
    ["juliet", "kilo", "lima"],
]
NON_CORE_SQUAD = 3
TWO_ACCOUNT_PLAYERS = {"bravo", "hotel"}

TRIOS = ["br_brtrios", "br_25", "br_74", "br_brhwntrios", "br_brtriostim_name2"]
QUADS = ["br_brquads", "br_89", "br_brbbquad"]
DUOS = ["br_brduos", "br_88", "br_brbbduo"]
SOLOS = ["br_brsolo", "br_87", "br_71", "br_brbbsolo"]
UNTRACKED = ["br_dmz_104", "br_77", "brtdm_113"]
UNKNOWN = ["br_mystery_1", "br_mystery_2"]
MP_MODES = ["mp_war", "mp_dom"]
TEAM_COUNT = {"trios": 50, "quads": 38, "duos": 75, "solo": 150, "other": 40}

NULLABLE_STATS = ["kills", "headshots", "kdRatio", "teamPlacement",
                  "gulagKills", "scorePerMinute", "damageDone", "damageTaken"]


def _uno(rng: random.Random) -> str:
    return str(rng.randrange(10**15, 10**16))


def _players(rng: random.Random) -> tuple[list[dict], dict[str, list[str]]]:
    config, accounts = [], {}
    for s, squad in enumerate(SQUADS):
        for name in squad:
            n_acc = 2 if name in TWO_ACCOUNT_PLAYERS else 1
            unos = [_uno(rng) for _ in range(n_acc)]
            accounts[name] = unos
            entry = {
                "name": name.capitalize(),
                "accounts": [
                    {"activisionPlatform": "battle",
                     "activisionTag": f"{name.capitalize()}#{1000 + i}",
                     "unoId": u}
                    for i, u in enumerate(unos)
                ],
            }
            if s != NON_CORE_SQUAD:
                entry["isCore"] = True
            config.append(entry)
    return config, accounts


def _player_stats(rng: random.Random, placement: int, minutes: float) -> dict:
    r = rng.random()
    kills = 0 if r < 0.15 else (rng.randint(8, 14) if r > 0.95 else rng.randint(1, 7))
    deaths = rng.randint(0, 5)
    taken = rng.randint(150, 2500)
    if rng.random() < 0.01:
        deaths, taken = 0, 0  # the bugged row the quality filter drops
    gulag = rng.random()
    gk, gd = (1, 0) if gulag < 0.3 else ((0, 1) if gulag < 0.6 else (0, 0))
    if rng.random() < 0.03:
        gk, gd = 1, 1  # untrustworthy gulagDeaths: kills win
    score = float(kills * 100 + rng.randint(0, 3000))
    stats = {
        "score": score,
        "scorePerMinute": round(score / minutes, 4),
        "kills": kills,
        "deaths": deaths,
        "damageDone": kills * 230 + rng.randint(0, 900),
        "damageTaken": taken,
        "gulagKills": gk,
        "gulagDeaths": gd,
        "teamPlacement": placement,
        "kdRatio": round(kills / max(deaths, 1), 4),
        "distanceTraveled": round(rng.uniform(500.0, 9000.0), 3),
        "headshots": rng.randint(0, kills),
        "objectiveBrCacheOpen": rng.randint(0, 9),
        "objectiveReviver": rng.randint(0, 3),
        "objectiveDestroyedVehicleLight": rng.randint(0, 1),
        "objectiveDestroyedVehicleMedium": rng.randint(0, 1),
        "objectiveDestroyedVehicleHeavy": rng.randint(0, 1),
    }
    for c in range(1, 7):
        stats[f"objectiveBrDownEnemyCircle{c}"] = rng.randint(0, 2)
    if rng.random() < 0.02:
        for f in rng.sample(NULLABLE_STATS, 2):
            if rng.random() < 0.5:
                stats[f] = None
            else:
                del stats[f]
    return stats


# game kinds and their share of each squad's games; counts are fixed per
# squad and only their order and modes depend on the seed, so every seed
# writes the same number of files
DECK = [
    ("trios_partial", 0.12), ("quads", 0.05), ("quads_stack", 0.05),
    ("duos", 0.08), ("solo", 0.06), ("untracked", 0.05), ("unknown", 0.03),
    ("mp", 0.06),
]
GAMES_PER_SESSION = (1, 5, 3, 7, 4, 6, 2, 8)


def _deck(rng: random.Random, n_games: int, squad_size: int) -> list[tuple[str, str, str, int]]:
    """(gameType, mode, roster kind, roster size) for a squad's games;
    the rest of the deck is full-squad trios."""
    cards = [k for k, share in DECK for _ in range(max(1, round(share * n_games)))]
    cards += ["trios"] * (n_games - len(cards))
    rng.shuffle(cards)
    table = {
        "trios": ("wz", TRIOS, "trios", squad_size),
        "trios_partial": ("wz", TRIOS, "trios", squad_size - 1),
        "quads": ("wz", QUADS, "quads", squad_size),
        "quads_stack": ("wz", QUADS, "quads", squad_size + 1),
        "duos": ("wz", DUOS, "duos", 2),
        "solo": ("wz", SOLOS, "solo", 1),
        "untracked": ("wz", UNTRACKED, "other", squad_size),
        "unknown": ("wz", UNKNOWN, "other", squad_size),
        "mp": ("mp", MP_MODES, "other", squad_size),
    }
    out = []
    for c in cards:
        game_type, modes, kind, size = table[c]
        out.append((game_type, rng.choice(modes), kind, size))
    return out


def generate_matches(root: str, seed: int, sessions_per_squad: int = 40) -> dict:
    """Write the match history under ``root``; return its ground truth.

    Layout: ``root/players.json`` and ``root/matches/batch{1,2}/`` (the
    second directory holds the re-fetched duplicate keys). Read with the
    glob ``root/matches/*/match_*.json``.
    """
    rng = random.Random(seed)
    config, accounts = _players(rng)
    batch1 = os.path.join(root, "matches", "batch1")
    batch2 = os.path.join(root, "matches", "batch2")
    os.makedirs(batch1, exist_ok=True)
    os.makedirs(batch2, exist_ok=True)

    docs: list[tuple[str, dict]] = []  # (file name, payload)
    next_game = [seed % 1000 * 10**9]

    def game_id() -> str:
        next_game[0] += rng.randint(1, 97)
        return f"{next_game[0]:013d}"

    for s, squad in enumerate(SQUADS):
        others = [p for q, sq in enumerate(SQUADS) if q != s for p in sq]
        starts = sorted(rng.sample(range(TIMELINE_DAYS * 24), sessions_per_squad))
        counts = [GAMES_PER_SESSION[k % len(GAMES_PER_SESSION)] for k in range(len(starts))]
        deck = _deck(rng, sum(counts), len(squad))
        prev_end = None
        for k, hour in enumerate(starts):
            t = TIMELINE_START + hour * 3600 + rng.randint(0, 3599)
            if prev_end is not None and t - prev_end < SESSION_GAP + 600:
                t = prev_end + SESSION_GAP + 600 + rng.randint(0, 3600)
            if k == 1:
                t = prev_end + SESSION_GAP  # the exact boundary: a new session
            for g in range(counts[k]):
                if g:
                    t += rng.randint(1500, 2400)
                game_type, mode, kind, size = deck.pop()
                if kind == "solo":
                    rosters = [[p] for p in squad]
                elif size > len(squad):
                    rosters = [squad + [rng.choice(others)]]
                else:
                    rosters = [rng.sample(squad, size)]
                minutes = rng.uniform(18.0, 30.0)
                for roster in rosters:
                    gid = game_id()
                    teams = TEAM_COUNT[kind]
                    p = rng.random()
                    placement = 1 if p < 0.1 else (teams if p < 0.16 else rng.randint(2, teams - 1))
                    for name in roster:
                        uno = rng.choice(accounts[name])
                        payload = {
                            "matchID": gid,
                            "utcStartSeconds": t - int(minutes * 60),
                            "utcEndSeconds": t,
                            "gameType": game_type,
                            "mode": mode,
                            "playerCount": 150 if rng.random() > 0.01 else None,
                            "teamCount": teams,
                            "player": {"uno": uno, "username": name},
                            "playerStats": _player_stats(rng, placement, minutes),
                        }
                        docs.append((f"match_{gid}_{uno}.json", payload))
            prev_end = t

    n_bad = max(1, len(docs) // 100)
    picked = rng.sample(range(len(docs)), 2 * n_bad)
    corrupt, duplicate = set(picked[:n_bad]), set(picked[n_bad:])
    in_bytes = 0
    unknown_modes = set()
    for i, (name, payload) in enumerate(docs):
        text = json.dumps(payload, separators=(",", ":"))
        if i in corrupt:
            text = text[: len(text) // 2]
        elif payload["gameType"] == "wz" and payload["mode"] in UNKNOWN:
            unknown_modes.add(payload["mode"])
        with open(os.path.join(batch1, name), "w") as f:
            f.write(text)
        in_bytes += len(text)
        if i in duplicate:
            with open(os.path.join(batch2, name), "w") as f:
                f.write(text)
            in_bytes += len(text)
    players_path = os.path.join(root, "players.json")
    players_text = json.dumps(config, indent=1)
    with open(players_path, "w") as f:
        f.write(players_text)
    in_bytes += len(players_text)

    n_players = len(config)
    return {
        "glob": os.path.join(root, "matches", "*", "match_*.json"),
        "players": players_path,
        "files": len(docs) + n_bad,
        "corrupt_files": n_bad,
        "duplicate_files": n_bad,
        "n_players": n_players,
        "player_ids": sorted(n for squad in SQUADS for n in squad),
        "in_bytes": in_bytes,
        # 7 top-level documents + (time, game) per player per season +
        # (player_stats, sessions) per player
        "expected_docs": 7 + 2 * n_players * 18 + 2 * n_players,
        "expected_unknown_modes": len(unknown_modes),
    }
