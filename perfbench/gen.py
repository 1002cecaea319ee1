"""Seeded input generator for the near-dup benchmark.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical parquet files and the same planted truth pairs. The
vocabulary and document recipes live here, not in the package, so a change
to the package's own corpus fixtures never changes what the benchmark
measures.

Each generator asserts the property its workload exists to exercise and
raises ``ValueError`` when the generated data lacks it.

Run standalone to inspect an input:

    python3 perfbench/gen.py --workload dense_curate --seed 1 --out /tmp/x
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are set so that one run (JVM start, one cold repetition, checks)
# takes well under a minute on a 4-core host. They are part of the benchmark
# definition: changing one changes every number the benchmark reports.
BULK_DOCS = 1600            # 300-1200 words each, ~9 MB of text
BULK_NEAR_FRAC = 0.02       # near-copies of another bulk doc
DENSE_DOCS = 1200           # 60-200 words each
DENSE_CLUSTER_FRAC = 0.5    # docs inside planted clusters of 2-8
DENSE_LOWVOCAB_DOCS = 120   # docs over a 15-word vocabulary
DENSE_HOT_PAGES = 140       # templated block; must exceed 2 x BUCKET_CAP
INC_SEED_DOCS = 1000        # indexed before the first drop
INC_DROPS = 2
INC_DROP_DOCS = 100
INC_NEAR_FRAC = 0.3         # share of each drop that copies an indexed doc

# LSH bucket cap the benchmark configures (PipelineConfig.bucket_cap): small
# enough that a hot block of a few hundred pages is salted and chain-linked
# without the quadratic candidate volume of the default cap.
BUCKET_CAP = 64

_BASE_TS = dt.datetime(2026, 1, 1)
_EN = ("the", "and", "of")
_DE = ("der", "und", "die")

DOCS_SCHEMA = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                         ("html", pa.binary()), ("text", pa.string()),
                         ("lang", pa.string())])
TRUTH_SCHEMA = pa.schema([("url_a", pa.string()), ("url_b", pa.string())])


def make_vocab(n: int, seed: int) -> np.ndarray:
    """Pseudo-words of 4-9 letters; large enough (20k) that unrelated docs
    share almost no 9-byte shingles, as in real webtext."""
    rng = np.random.RandomState(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(["".join(letters[rng.randint(0, 26, size=n_)])
                     for n_ in rng.randint(4, 10, size=n)])


VOCAB = make_vocab(20000, 777)
# 15 words: two random docs over it share ~30% of their 9-byte shingles, so
# a quarter of their pairs collide in some band (random candidates for the
# est gate to drop) while none come near the 0.7 threshold. Over 30 words
# the mean Jaccard is ~0.1 and almost no pair collides.
LOW_VOCAB = make_vocab(15, 778)


class _Docs:
    """Accumulates (url, text, lang) rows and planted truth pairs."""

    def __init__(self, prefix: str):
        self.prefix = prefix
        self.urls: list[str] = []
        self.texts: list[str] = []
        self.langs: list[str] = []
        self.truth: list[tuple[str, str]] = []

    def add(self, words, lang: str = "en") -> str:
        i = len(self.urls)
        url = f"https://site{i % 50}.example/{self.prefix}/{i:06d}"
        self.urls.append(url)
        self.texts.append(" ".join(words))
        self.langs.append(lang)
        return url

    def pair(self, u: str, v: str) -> None:
        self.truth.append((min(u, v), max(u, v)))

    def table(self, order: np.ndarray | None = None) -> pa.Table:
        idx = np.arange(len(self.urls)) if order is None else order
        ts = [_BASE_TS + dt.timedelta(seconds=37 * int(i)) for i in idx]
        return pa.table({
            "url": [self.urls[i] for i in idx],
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "html": [b"<html><body>" + self.texts[i].encode() + b"</body></html>"
                     for i in idx],
            "text": [self.texts[i] for i in idx],
            "lang": [self.langs[i] for i in idx],
        }, schema=DOCS_SCHEMA)


def _words(rng, vocab, lo: int, hi: int) -> list[str]:
    return list(vocab[rng.randint(0, len(vocab), size=rng.randint(lo, hi + 1))])


def _mutate(rng, words: list[str], lo: float = 0.01, hi: float = 0.04) -> list[str]:
    """Substitute 1-4% of the tokens; one in five copies is also truncated
    to 95-99% of its length. Pairs stay far above a 0.7 Jaccard threshold."""
    out = list(words)
    n_edit = max(1, int(len(out) * rng.uniform(lo, hi)))
    for p in rng.randint(0, len(out), size=n_edit):
        out[p] = VOCAB[rng.randint(0, len(VOCAB))]
    if rng.rand() < 0.2:
        out = out[:int(len(out) * rng.uniform(0.95, 0.99))]
    return out


def _with_markers(rng, words: list[str], lang: str) -> list[str]:
    """Sprinkle the language-marker stopwords the curate filters look for
    (about one token in eight); pseudo-words alone are 'unknown'."""
    markers = _EN if lang == "en" else _DE if lang == "de" else None
    if markers is None:
        return words
    out = list(words)
    for p in rng.randint(0, len(out), size=max(1, len(out) // 8)):
        out[p] = markers[rng.randint(0, 3)]
    return out


# 60% en, 30% de, 10% unmarked, in a fixed rotation
_LANG_CYCLE = ("en", "de", "en", "xx", "en", "de", "en", "en", "de", "en")


def bulk_unique(seed: int) -> tuple[pa.Table, list]:
    """Long, mostly unique docs: the signature kernel dominates, the
    LSH / verify / CC stages see only the few planted pairs."""
    rng = np.random.RandomState([seed, 1])
    d = _Docs(f"b{seed}")
    n_near = int(BULK_DOCS * BULK_NEAR_FRAC)
    bases = []
    while len(d.urls) < BULK_DOCS - n_near:
        w = _words(rng, VOCAB, 300, 1200)
        bases.append((d.add(w), w))
    for j in rng.choice(len(bases), size=n_near, replace=False):
        url, w = bases[j]
        d.pair(url, d.add(_mutate(rng, w)))
    table = d.table(rng.permutation(len(d.urls)))
    if len(d.truth) != n_near:
        raise ValueError("bulk_unique: planted pair count mismatch")
    return table, d.truth


def dense_curate(seed: int) -> tuple[pa.Table, list]:
    """Short docs dense in duplicates: planted clusters with exact copies,
    a templated hot block, a low-vocabulary share and en/de markers."""
    rng = np.random.RandomState([seed, 2])
    d = _Docs(f"d{seed}")
    # The seed picks the words only. Cluster sizes, exact copies and
    # languages follow fixed rotations, so every seed gives the pipeline the
    # same amount of work (the exact-dedup and filter counts otherwise varied
    # by 3% between seeds, and the wall time with them).
    # Planted near-dup clusters of 2-8 docs; 11 of every 28 non-base members
    # are exact copies.
    n_cluster_docs = int(DENSE_DOCS * DENSE_CLUSTER_FRAC)
    k = 0
    while len(d.urls) < n_cluster_docs:
        lang = _LANG_CYCLE[k % len(_LANG_CYCLE)]
        size = 2 + k % 7
        k += 1
        base = _with_markers(rng, _words(rng, VOCAB, 60, 200), lang)
        members = [d.add(base, lang)]
        for j in range(1, size):
            w = base if j % 5 in (2, 4) else _mutate(rng, base)
            members.append(d.add(w, lang))
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                d.pair(members[a], members[b])
    # templated hot block: one shared page body, a one-word slot filled per
    # page. Every page lands in the same bucket of most bands, so each of
    # those buckets is salted into sub-buckets joined by chain links.
    template = _with_markers(rng, _words(rng, VOCAB, 150, 150), "en")
    slot = int(rng.randint(0, len(template)))
    hot = []
    for _ in range(DENSE_HOT_PAGES):
        w = list(template)
        w[slot] = VOCAB[rng.randint(0, len(VOCAB))]
        hot.append(d.add(w, "en"))
    for a in range(len(hot)):
        for b in range(a + 1, len(hot)):
            d.pair(hot[a], hot[b])
    # low-vocabulary docs: random band collisions for the est gate to drop
    for i in range(DENSE_LOWVOCAB_DOCS):
        lang = _LANG_CYCLE[i % len(_LANG_CYCLE)]
        d.add(_with_markers(rng, _words(rng, LOW_VOCAB, 60, 200), lang), lang)
    while len(d.urls) < DENSE_DOCS:
        lang = _LANG_CYCLE[len(d.urls) % len(_LANG_CYCLE)]
        d.add(_with_markers(rng, _words(rng, VOCAB, 60, 200), lang), lang)
    table = d.table(rng.permutation(len(d.urls)))
    if DENSE_HOT_PAGES <= 2 * BUCKET_CAP:
        raise ValueError("dense_curate: hot block must exceed 2 x bucket_cap")
    if sum(1 for t in d.texts if " the " in t) == 0:
        raise ValueError("dense_curate: no en-marked docs; curate would emit 0 rows")
    return table, d.truth


def incremental_drops(seed: int) -> tuple[pa.Table, list[pa.Table], list]:
    """An indexed seed corpus and a series of small drops, 30% of each drop
    being near-copies of indexed docs. Returns (seed_docs, drops, truth)
    where truth pairs are (drop url, indexed url) before ordering."""
    rng = np.random.RandomState([seed, 3])
    d = _Docs(f"i{seed}")
    base_words = []
    for _ in range(INC_SEED_DOCS):
        w = _words(rng, VOCAB, 100, 400)
        d.add(w)
        base_words.append(w)
    seed_table = d.table()
    drops = []
    n_near = int(round(INC_DROP_DOCS * INC_NEAR_FRAC))
    # each indexed doc is copied at most once over all drops: drops then
    # share no planted pairs, so the emitted pairs do not depend on the
    # order in which the stream picks the drop files up
    copied = rng.choice(INC_SEED_DOCS, size=INC_DROPS * n_near, replace=False)
    for k in range(INC_DROPS):
        start = len(d.urls)
        for j in copied[k * n_near:(k + 1) * n_near]:
            d.pair(d.urls[j], d.add(_mutate(rng, base_words[j])))
        while len(d.urls) < start + INC_DROP_DOCS:
            d.add(_words(rng, VOCAB, 100, 400))
        drop = d.table(start + rng.permutation(INC_DROP_DOCS))
        in_drop = set(drop["url"].to_pylist())
        share = sum(1 for u, v in d.truth
                    if u in in_drop or v in in_drop) / drop.num_rows
        if abs(share - INC_NEAR_FRAC) > 0.05:
            raise ValueError(f"incremental_drops: drop {k} near-copy share {share:.2f}")
        drops.append(drop)
    return seed_table, drops, d.truth


def write_inputs(workload: str, seed: int, out: str) -> dict:
    """Write the parquet inputs and truth pairs of ``workload`` under ``out``;
    returns {"docs": n, "bytes": text bytes, "work_docs": docs the timed
    part processes, "truth_pairs": n, "paths": {...}}."""
    os.makedirs(out, exist_ok=True)
    paths = {}
    if workload == "incremental_drops":
        seed_table, drops, truth = incremental_drops(seed)
        paths["seed"] = os.path.join(out, "seed_docs")
        write_parts(seed_table, paths["seed"], 4)
        paths["drops"] = os.path.join(out, "drops")
        os.makedirs(paths["drops"], exist_ok=True)
        for k, t in enumerate(drops):
            pq.write_table(t, os.path.join(paths["drops"], f"drop-{k:04d}.parquet"))
        tables = [seed_table] + drops
        work_docs = sum(t.num_rows for t in drops)
    else:
        table, truth = {"bulk_unique": bulk_unique,
                        "dense_curate": dense_curate}[workload](seed)
        paths["docs"] = os.path.join(out, "docs")
        write_parts(table, paths["docs"], 4)
        tables = [table]
        work_docs = table.num_rows
    paths["truth"] = os.path.join(out, "truth.parquet")
    pq.write_table(pa.table({"url_a": [a for a, _ in truth],
                             "url_b": [b for _, b in truth]}, schema=TRUTH_SCHEMA),
                   paths["truth"])
    return {"docs": sum(t.num_rows for t in tables),
            "bytes": sum(sum(len(x) for x in t["text"].to_pylist()) for t in tables),
            "work_docs": work_docs, "truth_pairs": len(truth), "paths": paths}


def write_parts(table: pa.Table, path: str, n_parts: int) -> None:
    """Several files per table, so the scan is parallel as a real input's."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_parts)
    for p in range(n_parts):
        pq.write_table(table.slice(p * step, step),
                       os.path.join(path, f"part-{p:04d}.parquet"))


def micro_batch(n_docs: int = 256) -> pa.Table:
    """The fixed batch of the kernel microbench: bulk_unique docs of seed 0."""
    return bulk_unique(0)[0].slice(0, n_docs)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_unique", "dense_curate", "incremental_drops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(write_inputs(a.workload, a.seed, a.out)))
