"""The benchmark's own tests: seeded generators are deterministic, every
output check rejects a corrupted output, and the collector counts
exactly the jobs of a known action.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

from checks import (  # noqa: E402
    check_reports,
    check_shards,
    check_stages,
    duckdb_truth,
    tree_digest,
)
from collector import Collector, callsite_file, union_s  # noqa: E402
from gen_corpus import expected_counts, generate_corpus  # noqa: E402
from gen_matches import generate_matches  # noqa: E402


def _tracked_modes():
    from cod_stats_spark.engine.dims import GAME_MODES

    return [m[0] for m in GAME_MODES if m[1] == "wz" and m[6]]


# -- generators ----------------------------------------------------------


@pytest.mark.parametrize("gen", [
    lambda d, s: generate_matches(d, s, sessions_per_squad=4),
    lambda d, s: generate_corpus(d, s, n_base=60, n_eval=10, n_ref=20),
])
def test_same_seed_same_bytes(tmp_path, gen):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gt_a, gt_b = gen(str(a), 5), gen(str(b), 5)
    gen(str(c), 6)
    assert tree_digest(str(a)) == tree_digest(str(b))
    assert tree_digest(str(a)) != tree_digest(str(c))
    assert gt_a["in_bytes"] == gt_b["in_bytes"]


def test_match_history_plants_its_edge_cases(tmp_path):
    gt = generate_matches(str(tmp_path), 3, sessions_per_squad=12)
    assert gt["corrupt_files"] > 0 and gt["duplicate_files"] > 0
    assert gt["expected_docs"] == 7 + 2 * 12 * 18 + 2 * 12
    modes, types = set(), set()
    for d, _dirs, files in os.walk(tmp_path / "matches"):
        for f in files:
            try:
                with open(os.path.join(d, f)) as fh:
                    doc = json.load(fh)
            except json.JSONDecodeError:
                continue
            modes.add(doc["mode"])
            types.add(doc["gameType"])
    assert {"mp", "wz"} <= types
    assert {"br_mystery_1", "br_dmz_104"} & modes
    assert {"br_71", "br_brbbsolo", "br_brtriostim_name2", "br_brbbduo"} & modes


def test_expected_counts_split_families_across_batches():
    docs = [
        {"doc_id": 0, "cls": "fluent", "family": 0},
        {"doc_id": 1, "cls": "junk", "family": 9},
        {"doc_id": 2, "cls": "spam", "family": 8},
        {"doc_id": 3, "cls": "exact", "family": 0},
        {"doc_id": 4, "cls": "contaminated", "family": 1},
        {"doc_id": 5, "cls": "fluent", "family": 2},
    ]
    one = expected_counts(docs)[0]
    assert one == {"input": 6, "after_quality": 5, "after_model_gate": 4,
                   "after_dedup": 3, "after_decontamination": 2}
    two = expected_counts(docs, [[0, 1, 2], [3, 4, 5]])
    assert [b["after_dedup"] for b in two] == [1, 2]
    assert sum(b["after_decontamination"] for b in two) == 2


# -- output checks reject corrupted outputs ------------------------------


@pytest.fixture(scope="module")
def history(tmp_path_factory):
    root = tmp_path_factory.mktemp("history")
    gt = generate_matches(str(root), 11, sessions_per_squad=6)
    return gt, duckdb_truth(gt["glob"], gt["players"], _tracked_modes())


def _fake_site(out, gt, truth):
    """A report set that agrees with the DuckDB truth."""
    os.makedirs(os.path.join(out, "players"))
    files = []
    with open(os.path.join(out, "leaderboard_lifetime.json"), "w") as f:
        json.dump({"most_wins": truth["most_wins"]}, f)
    files.append(os.path.join(out, "leaderboard_lifetime.json"))
    for p in gt["player_ids"]:
        path = os.path.join(out, "players", f"sessions_{p}.json")
        with open(path, "w") as f:
            json.dump([{}] * truth["sessions"].get(p, 0), f)
        files.append(path)
    while len(files) < gt["expected_docs"]:
        path = os.path.join(out, f"pad{len(files)}.json")
        with open(path, "w") as f:
            f.write("{}")
        files.append(path)
    return files


def test_duckdb_truth_sees_the_planted_history(history):
    gt, truth = history
    assert truth["most_wins"] and all(r["value"] > 0 for r in truth["most_wins"])
    assert set(truth["sessions"]) <= set(gt["player_ids"])
    assert sum(truth["sessions"].values()) >= 4 * 6


def test_check_reports_accepts_then_rejects(tmp_path, history):
    gt, truth = history
    out = str(tmp_path / "site")
    files = _fake_site(out, gt, truth)
    args = (truth, gt["expected_docs"], gt["player_ids"])
    assert check_reports(out, files, *args) == []
    # a missing document
    os.remove(files[-1])
    assert check_reports(out, files[:-1], *args)
    shutil.rmtree(out)
    files = _fake_site(out, gt, truth)
    # a wrong most-wins value
    with open(os.path.join(out, "leaderboard_lifetime.json"), "w") as f:
        bad = [dict(r, value=r["value"] + 1) for r in truth["most_wins"]]
        json.dump({"most_wins": bad}, f)
    assert check_reports(out, files, *args)
    shutil.rmtree(out)
    files = _fake_site(out, gt, truth)
    # one session too many for a player
    p = gt["player_ids"][0]
    with open(os.path.join(out, "players", f"sessions_{p}.json"), "w") as f:
        json.dump([{}] * (truth["sessions"].get(p, 0) + 1), f)
    assert check_reports(out, files, *args)


def test_tree_digest_sees_one_changed_byte(tmp_path):
    (tmp_path / "a.json").write_text('{"x":1}')
    before = tree_digest(str(tmp_path))
    (tmp_path / "a.json").write_text('{"x":2}')
    assert tree_digest(str(tmp_path)) != before


def test_check_stages_rejects_wrong_and_empty_stages():
    expected = {"input": 10, "after_quality": 9, "after_model_gate": 8,
                "after_dedup": 7, "after_decontamination": 6}
    good = dict(expected, shards=2)
    assert check_stages(good, expected) == []
    assert check_stages(dict(good, after_dedup=8), expected)
    assert check_stages(dict(good, shards=0), expected)
    assert check_stages({**{k: 0 for k in good}}, {k: 0 for k in expected})


def test_check_shards_rejects_each_kind_of_bad_output():
    docs = [
        {"doc_id": 0, "cls": "fluent", "family": 0},
        {"doc_id": 1, "cls": "exact", "family": 0},
        {"doc_id": 2, "cls": "near", "family": 0},
        {"doc_id": 3, "cls": "contaminated", "family": 1},
        {"doc_id": 4, "cls": "fluent", "family": 2},
        {"doc_id": 5, "cls": "spam", "family": 3},
    ]
    assert check_shards([0, 4], docs, 2, 2) == []
    assert check_shards([0, 4, 4], docs, 2, 2)       # a doc id twice
    assert check_shards([0, 4, 3], docs, 3, 3)       # contamination kept
    assert check_shards([0, 4, 5], docs, 3, 3)       # spam kept
    assert check_shards([0, 1, 4], docs, 3, 3)       # an exact duplicate kept
    assert check_shards([2, 0, 4], docs, 3, 3)       # a near duplicate kept
    assert check_shards([0, 4], docs, 3, 2)          # survivors miscounted
    assert check_shards([0, 4], docs, 2, 3)          # manifest miscounted


# -- the collector -------------------------------------------------------


def test_union_and_callsite_helpers():
    assert union_s([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == pytest.approx(3.0)
    assert union_s([]) == 0.0
    assert callsite_file("collect at /x/y/reports.py:23") == "reports.py"
    assert callsite_file("run at ThreadPoolExecutor.java:1136") == "unattributed"


@pytest.fixture(scope="module")
def spark():
    from cod_stats_spark.session import get_spark

    s = get_spark("perfbench-test", cpus=2)
    yield s
    s.stop()


def test_collector_counts_exactly_the_jobs_of_a_known_action(spark):
    sc = spark.sparkContext
    col = Collector(spark, trace=True)
    sc.parallelize(range(10), 2).count()  # outside any span: not counted
    col.call("one", 0, lambda: sc.parallelize(range(100), 3).count())
    col.call("two", 0, lambda: [sc.parallelize(range(8), 2).sum(),
                                sc.parallelize(range(8), 4).count()])
    col.call("none", 0, lambda: 1 + 1)
    one, two, none = col.spans
    assert [len(s.jobs) for s in col.spans] == [1, 2, 0]
    m = col.layer_metrics(one)
    assert (m["jobs"], m["stages"], m["tasks"]) == (1, 1, 3)
    assert col.layer_metrics(two)["tasks"] == 6
    assert {j["file"] for j in one.jobs + two.jobs} == {"test_perfbench.py"}
    assert 0.0 <= m["driver_only_s"] <= m["wall_s"]
    assert col.layer_metrics(none)["jobs"] == 0


def test_collector_counts_shuffle_stages(spark):
    col = Collector(spark, trace=True)
    df = spark.range(1000).selectExpr("id % 7 AS k")
    rows = col.call("agg", 0, lambda: df.groupBy("k").count().collect())
    assert len(rows) == 7
    m = col.layer_metrics(col.spans[0])
    assert m["jobs"] >= 1 and m["stages"] >= 2
    assert m["shuffle_write_mb"] > 0 and m["shuffle_read_mb"] > 0


def test_untraced_collector_only_times(spark):
    col = Collector(spark, trace=False)
    col.call("x", 0, lambda: spark.sparkContext.parallelize(range(4)).count())
    assert col.spans[0].jobs == [] and col.spans[0].wall_s > 0
