"""The benchmark's workloads: each generates its input, warms up, and runs
measured passes through the program's public functions, checking every
output. Layer calls go through the collector, named after the module.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from checks import (
    check_reports,
    check_shards,
    check_stages,
    duckdb_truth,
    shard_doc_ids,
    tree_digest,
)
from collector import MB, tree_bytes
from gen_corpus import expected_counts, generate_corpus
from gen_matches import generate_matches

# report timestamps are pinned so the document set is byte-stable
FIXED_NOW = datetime(2021, 6, 1, tzinfo=timezone.utc)
# funnel counts a curation layer call reports as per-layer counters
SURVIVOR_COUNTERS = ("after_quality", "after_model_gate", "after_dedup",
                     "after_decontamination", "shards")
# per-layer counters that describe a state, not work done: a pass reports
# its last value instead of the sum over the layer's calls
GAUGES = {"cached_mb", "state_mb", "state_files"}


@dataclass
class PassResult:
    """One measured pass: checked units (name, failures), the latency of
    each user-visible step, and the bytes the pass wrote."""

    units: list[tuple[str, list[str]]] = field(default_factory=list)
    steps: list[float] = field(default_factory=list)
    out_bytes: int = 0


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


class MatchRefresh:
    """The paper's pipeline: match JSON → silver → audits → report
    documents, in the call order of ``python -m cod_stats_spark``."""

    # 6 sessions per squad: ~300 files
    SESSIONS_PER_SQUAD = 6
    LAYERS = {
        "engine.ingest.read": ["files_listed"],
        "engine.normalize.silver": ["silver_rows", "cached_mb"],
        "engine.ingest.corrupt_audit": ["corrupt_files"],
        "engine.normalize.unknown_audit": ["unknown_modes"],
        "engine.reports.write": ["files_written", "mb_written", "jobs_reports_py",
                                 "jobs_api_py", "jobs_unattributed"],
    }

    def __init__(self, spark, collector):
        self.spark = spark
        self.col = collector
        self.digest = None

    def generate(self, dest: str, seed: int) -> dict:
        return generate_matches(dest, seed, self.SESSIONS_PER_SQUAD)

    def prepare(self, gt: dict) -> None:
        """Recompute the DuckDB truth, then warm up: read the input and
        build silver once. The audits and the report write run cold in
        each measured pass, as they do when the pipeline runs as a fresh
        process on a schedule."""
        from cod_stats_spark.engine import Engine
        from cod_stats_spark.engine.dims import GAME_MODES

        self.gt = gt
        tracked = [m[0] for m in GAME_MODES if m[1] == "wz" and m[6]]
        self.truth = duckdb_truth(gt["glob"], gt["players"], tracked)
        Engine.from_paths(self.spark, gt["glob"], gt["players"]).valid_games().count()
        self.spark.catalog.clearCache()

    def run_pass(self, pid: int, pass_dir: str) -> PassResult:
        from cod_stats_spark.engine import Engine

        col, spark, gt = self.col, self.spark, self.gt
        out = os.path.join(pass_dir, "site")
        eng = col.call("engine.ingest.read", pid,
                       lambda: Engine.from_paths(spark, gt["glob"], gt["players"]))
        col.spans[-1].counters["files_listed"] = len(eng.bronze.inputFiles())
        n_silver = col.call("engine.normalize.silver", pid,
                            lambda: eng.valid_games().count())
        col.spans[-1].counters.update(silver_rows=n_silver, cached_mb=_cached_mb(spark))
        n_corrupt = col.call("engine.ingest.corrupt_audit", pid,
                             lambda: eng.corrupt_matches().count())
        col.spans[-1].counters["corrupt_files"] = n_corrupt
        n_unknown = col.call("engine.normalize.unknown_audit", pid,
                             lambda: eng.unknown_modes_wz().count())
        col.spans[-1].counters["unknown_modes"] = n_unknown
        files = col.call("engine.reports.write", pid,
                         lambda: eng.write_reports(out, now=FIXED_NOW))
        span = col.spans[-1]
        n_files, n_bytes = tree_bytes(out)
        span.counters.update(files_written=n_files, mb_written=n_bytes / MB)
        for f in ("reports.py", "api.py", "unattributed"):
            key = "jobs_" + f.replace(".", "_")
            span.counters[key] = sum(1 for j in span.jobs if j["file"] == f)
        spark.catalog.clearCache()

        fails = check_reports(out, files, self.truth, gt["expected_docs"], gt["player_ids"])
        if n_corrupt != gt["corrupt_files"]:
            fails.append(f"corrupt files {n_corrupt} != {gt['corrupt_files']}")
        if n_unknown != gt["expected_unknown_modes"]:
            fails.append(f"unknown modes {n_unknown} != {gt['expected_unknown_modes']}")
        digest = tree_digest(out)
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            fails.append("report set differs from the first pass at the same fixed now")
        return PassResult([("refresh", fails)], [], n_bytes)


class Curate:
    """The curation funnel in both postures over one corpus. A pass fits
    the quality classifier on the labelled reference slice, rebuilds the
    whole corpus with the one-shot ``curate_corpus``, then feeds the same
    corpus as two increasing-id batches through ``curate_corpus_append``
    and ``compact_curated_shards`` against one fresh state directory:
    the second step reads the fingerprint and band index the first one
    persisted, then appends to it."""

    N_BASE = 500          # fluent documents; 600 corpus documents in all
    # 3 iterations already score every planted spam document below the
    # gate's default 0.5 and every fluent one above it
    FIT_ITERS = 3
    MIN_QUALITY = 0.5
    LAYERS = {
        "operators.quality_classifier.fit": ["gd_iterations"],
        "plans.curation.curate": list(SURVIVOR_COUNTERS),
        "plans.curation.append": [*SURVIVOR_COUNTERS, "state_mb", "state_files"],
        "plans.curation.compact": ["files_rewritten", "state_mb"],
    }

    def __init__(self, spark, collector):
        self.spark = spark
        self.col = collector

    def generate(self, dest: str, seed: int) -> dict:
        return generate_corpus(dest, seed, n_base=self.N_BASE)

    def prepare(self, gt: dict) -> None:
        """Read the inputs, derive the expected funnel counts, and warm
        up by counting the corpus. The fit and the funnel run cold in each
        measured pass, as they do in a scheduled refresh process."""
        spark = self.spark
        self.gt = gt
        self.docs = spark.read.parquet(gt["corpus"])
        self.bench = spark.read.parquet(gt["benchmark"])
        self.ref = spark.read.parquet(gt["reference"])
        ids = sorted(d["doc_id"] for d in gt["docs"])
        half = len(ids) // 2
        self.batches = [ids[:half], ids[half:]]
        self.expect_batch = expected_counts(gt["docs"])[0]
        self.expect_append = expected_counts(gt["docs"], self.batches)
        self.docs.count()

    def _fit(self, pid: int):
        from cod_stats_spark.operators.quality_classifier import quality_classifier_fit

        model = self.col.call("operators.quality_classifier.fit", pid,
                              lambda: quality_classifier_fit(self.ref, iters=self.FIT_ITERS))
        self.col.spans[-1].counters["gd_iterations"] = len(model.loss_history)
        return model

    def _append(self, pid: int, model, state: str, b: int) -> tuple[list[str], int, int]:
        """Append batch ``b`` and compact; (failures, survivors, manifest docs)."""
        from pyspark.sql import functions as F

        from cod_stats_spark.plans.curation import (
            compact_curated_shards,
            curate_corpus_append,
        )

        col, spark, ids = self.col, self.spark, self.batches[b]
        new = self.docs.filter(F.col("doc_id").between(ids[0], ids[-1]))

        def append():
            manifest, stats = curate_corpus_append(
                spark, new, self.bench, state, b, qc_model=model,
                min_quality=self.MIN_QUALITY, decontam_ngram_n=8)
            return manifest.collect(), stats

        rows, stats = col.call("plans.curation.append", pid, append)
        span = col.spans[-1]
        span.counters.update({k: stats.get(k, 0) for k in SURVIVOR_COUNTERS})
        n, size = tree_bytes(state)
        span.counters.update(state_files=n, state_mb=size / MB)

        dest = os.path.join(state, "shards")
        before = _mtimes(dest)
        col.call("plans.curation.compact", pid,
                 lambda: compact_curated_shards(spark, state))
        after = _mtimes(dest)
        col.spans[-1].counters.update(
            files_rewritten=sum(1 for p, m in after.items() if before.get(p) != m),
            state_mb=tree_bytes(state)[1] / MB)
        return (check_stages(stats, self.expect_append[b]),
                stats.get("after_decontamination") or 0,
                sum(r["n_docs"] for r in rows))

    def run_pass(self, pid: int, pass_dir: str) -> PassResult:
        from cod_stats_spark.plans.curation import curate_corpus

        col, res = self.col, PassResult()
        model = self._fit(pid)

        batch_out = os.path.join(pass_dir, "batch")

        def rebuild():
            manifest, stats = curate_corpus(
                self.docs, self.bench, batch_out, qc_model=model,
                min_quality=self.MIN_QUALITY, decontam_ngram_n=8)
            return manifest.collect(), stats

        rows, stats = col.call("plans.curation.curate", pid, rebuild)
        col.spans[-1].counters.update({k: stats.get(k, 0) for k in SURVIVOR_COUNTERS})
        fails = check_stages(stats, self.expect_batch)
        fails += check_shards(shard_doc_ids(batch_out), self.gt["docs"],
                              stats.get("after_decontamination"),
                              sum(r["n_docs"] for r in rows))
        res.units.append(("rebuild", fails))

        state = os.path.join(pass_dir, "state")
        survivors = manifest_docs = 0
        for b in range(len(self.batches)):
            t0 = time.time()
            fails, kept, listed = self._append(pid, model, state, b)
            res.steps.append(time.time() - t0)
            survivors += kept
            manifest_docs += listed
            res.units.append((f"append{b}", fails))
        fails = check_shards(shard_doc_ids(os.path.join(state, "shards")),
                             self.gt["docs"], survivors, manifest_docs)
        if survivors != stats.get("after_decontamination"):
            fails.append(f"appends kept {survivors} docs, the rebuild "
                         f"{stats.get('after_decontamination')}")
        res.units[-1][1].extend(fails)
        self.spark.catalog.clearCache()
        res.out_bytes = tree_bytes(batch_out)[1] + tree_bytes(state)[1]
        return res


def _mtimes(root: str) -> dict[str, float]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getmtime(p)
    return out


WORKLOADS = {"match_refresh": MatchRefresh, "curate": Curate}
