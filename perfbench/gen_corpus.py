"""Seeded document-corpus generator for the curation workloads.

Every document belongs to exactly one planted class, and the class
decides which funnel stage removes it:

- ``fluent``: text drawn from a Zipf-weighted synthetic vocabulary with
  ~30% stopwords. Survives every stage.
- ``junk``: a short run of punctuation tokens. The heuristic quality
  gate drops it (its score stays below 0.5).
- ``spam``: word salad over a small disjoint vocabulary, without
  stopwords. It passes the heuristic gate; the trained classifier drops
  it.
- ``exact``: a byte-identical copy of a fluent document.
- ``near``: a copy of a fluent document with one token replaced (word
  3-shingle Jaccard >= 0.97). Near-dup removal drops it.
- ``contaminated``: a fluent document with a 16-token span of a held-out
  eval document inserted. Decontamination (8-grams) drops it.

Also written: the held-out eval set (``benchmark``) and a labelled
reference slice (fluent = 1, spam = 0) for fitting the classifier.
Neither overlaps the corpus. The same seed gives the same bytes.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
CONSONANTS = "bcdfghjklmnprstvz"
VOWELS = "aeiou"
SPAM_SYLLABLES = ["xy", "qu", "wo", "yx", "qo", "wy"]

def _vocab(rng: random.Random, n: int, syllables: list[str]) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syllables) for _ in range(rng.randint(2, 4))))
    return sorted(words)


class _Text:
    """Token sampler over one vocabulary (Zipf weights, a share of stopwords)."""

    def __init__(self, rng: random.Random, vocab: list[str], stop: float):
        self.rng = rng
        self.vocab = vocab
        self.stop = stop
        self.cum = []
        acc = 0.0
        for rank in range(len(vocab)):
            acc += 1.0 / (rank + 20)
            self.cum.append(acc)

    def tokens(self, n: int) -> list[str]:
        rng = self.rng
        out = rng.choices(self.vocab, cum_weights=self.cum, k=n)
        return [rng.choice(STOPWORDS) if rng.random() < self.stop else w for w in out]


def generate_corpus(root: str, seed: int, n_base: int = 2000, n_eval: int = 80,
                    n_ref: int = 300) -> dict:
    """Write ``corpus.parquet``, ``benchmark.parquet`` and
    ``reference.parquet`` under ``root``; return the ground truth.

    ``n_base`` fluent documents seed the corpus; the planted classes are
    sized relative to it, so every seed writes the same number of each
    class. Doc ids are a seeded permutation, so planted copies are not
    always the higher id of their family.
    """
    rng = random.Random(seed)
    syll = [c + v for c in CONSONANTS for v in VOWELS]
    fluent = _Text(rng, _vocab(rng, 3000, syll), 0.3)
    spam = _Text(rng, _vocab(rng, 12, [s + v for s in SPAM_SYLLABLES for v in VOWELS]), 0.0)

    def doc(sampler: _Text, lo: int, hi: int) -> list[str]:
        return sampler.tokens(rng.randint(lo, hi))

    eval_docs = [" ".join(doc(fluent, 40, 80)) for _ in range(n_eval)]
    rows: list[tuple[str, str, int]] = []  # (class, text, family)
    bases = [doc(fluent, 150, 260) for _ in range(n_base)]
    n_plant = max(1, n_base // 25)
    exact_src = sorted(rng.sample(range(n_base), n_plant))
    exact_copies = {fam: 1 + i % 2 for i, fam in enumerate(exact_src)}
    near_src = set(rng.sample(sorted(set(range(n_base)) - set(exact_src)), n_plant))
    free = sorted(set(range(n_base)) - set(exact_src) - near_src)
    contam = set(rng.sample(free, max(1, n_base // 50)))
    for fam, toks in enumerate(bases):
        if fam in contam:
            span = eval_docs[rng.randrange(n_eval)].split()
            at = rng.randrange(len(span) - 16)
            pos = rng.randrange(len(toks))
            toks = toks[:pos] + span[at:at + 16] + toks[pos:]
            rows.append(("contaminated", " ".join(toks), fam))
            continue
        rows.append(("fluent", " ".join(toks), fam))
        for _ in range(exact_copies.get(fam, 0)):
            rows.append(("exact", " ".join(toks), fam))
        if fam in near_src:
            copy = list(toks)
            i = rng.randrange(len(copy))
            copy[i] = copy[i] + "x"
            rows.append(("near", " ".join(copy), fam))
    fam = n_base
    for _ in range(n_base // 20):
        rows.append(("junk", " ".join(
            rng.choice(["!!!", "$$$$", "###", "???", "@@@", "***", "%%%%"])
            for _ in range(rng.randint(3, 12))), fam))
        fam += 1
    for _ in range(n_base // 20):
        rows.append(("spam", " ".join(doc(spam, 120, 200)), fam))
        fam += 1

    ids = list(range(len(rows)))
    rng.shuffle(ids)
    ref = [(" ".join(doc(fluent, 120, 220)), 1) for _ in range(n_ref // 2)]
    ref += [(" ".join(doc(spam, 120, 200)), 0) for _ in range(n_ref - n_ref // 2)]

    os.makedirs(root, exist_ok=True)
    corpus_path = os.path.join(root, "corpus.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [t for _c, t, _f in rows],
    }), corpus_path)
    bench_path = os.path.join(root, "benchmark.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_eval), pa.int64()),
        "text": eval_docs,
    }), bench_path)
    ref_path = os.path.join(root, "reference.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(ref)), pa.int64()),
        "text": [t for t, _l in ref],
        "label": pa.array([lab for _t, lab in ref], pa.int32()),
    }), ref_path)

    return {
        "corpus": corpus_path,
        "benchmark": bench_path,
        "reference": ref_path,
        "in_bytes": sum(os.path.getsize(p) for p in (corpus_path, bench_path, ref_path)),
        "docs": [
            {"doc_id": i, "cls": c, "family": f}
            for i, (c, _t, f) in zip(ids, rows)
        ],
    }


def expected_counts(docs: list[dict], batches: list[list[int]] | None = None) -> list[dict]:
    """Stage survivor counts the funnel must report, per batch.

    ``batches`` splits the doc ids into append batches, applied in
    order against one state; ``None`` is the one-shot funnel (a single
    batch of every document). A dedup family keeps one member, in the
    first batch that holds any of them.
    """
    by_id = {d["doc_id"]: d for d in docs}
    if batches is None:
        batches = [sorted(by_id)]
    seen: set[int] = set()
    out = []
    for ids in batches:
        rows = [by_id[i] for i in ids]
        after_quality = [d for d in rows if d["cls"] != "junk"]
        after_model = [d for d in after_quality if d["cls"] != "spam"]
        fams = {d["family"] for d in after_model} - seen
        seen |= fams
        contaminated = sum(1 for d in after_model if d["cls"] == "contaminated")
        out.append({
            "input": len(rows),
            "after_quality": len(after_quality),
            "after_model_gate": len(after_model),
            "after_dedup": len(fams),
            "after_decontamination": len(fams) - contaminated,
        })
    return out
