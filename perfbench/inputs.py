"""Seeded input generators. The program under test only ever sees the files
these write; the same seed always gives byte-identical files.

* ``write_docs`` — an interleaved-docs corpus in the bench-tier shape of
  ``pdfplucker_spark.gen`` (Zipf span counts, a few giant docs, poison docs
  at ``gen.is_poison``'s ~1% rate), scaled down so one run fits the budget.
* ``write_curation_dir`` — an sf-style dir (``documents`` with the testdata
  schema plus ``embeddings``) with planted exact-duplicate clusters,
  near-duplicate clusters, near-duplicate embedding clusters and
  boilerplate lines.
"""

from __future__ import annotations

import functools
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pdfplucker_spark import gen

GIANT_SPANS = 20_000  # = plans.partitioning.DEFAULT_SKEW_THRESHOLD
MAX_SPANS = 2_000  # bench-tier cap for non-giant docs


@functools.lru_cache(maxsize=8)
def _block_order(seed: int, block: int, size: int) -> tuple:
    return tuple(random.Random(seed * 1_000_003 + block).sample(range(size), size))


def _zipf_spans(seed: int, idx: int, block: int) -> int:
    """gen.gen_rows' bench-tier size law (Pareto tail, mean ~140 spans),
    stratified: each block of ``block`` consecutive doc indices takes the
    law's ``block`` quantiles in a seeded order, so every seed yields the
    same multiset of sizes (and the same span total)."""
    j = _block_order(seed, idx // block, block)[idx % block]
    u = 1.0 - (j + 0.5) / block
    return min(MAX_SPANS, max(5, int(20 * (1.0 / u) ** 1.2)))


def make_doc(seed: int, idx: int, n_spans: int):
    """Giants are never poison; every other doc is poison iff gen.is_poison."""
    poison = n_spans != GIANT_SPANS and gen.is_poison(idx)
    return gen.gen_doc(idx, seed, n_spans, n_spans, poison=poison)


def _write_files(rows, out_dir: str, n_files: int) -> list[str]:
    """Contiguous shards, one row group each (the gen.write_tier layout)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        chunk = rows[f * per:(f + 1) * per]
        p = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(gen.rows_to_table(chunk), p, row_group_size=max(1, len(chunk)))
        paths.append(p)
    return paths


@dataclass
class Corpus:
    path: str
    doc_idx: list
    n_spans: int
    n_bytes: int

    @property
    def poison_ids(self) -> set:
        return {f"doc_{i:08d}" for i in self.doc_idx if gen.is_poison(i)}


def write_docs(seed: int, out_dir: str, n_docs: int, n_giants: int, n_files: int) -> Corpus:
    """bench-tier shape: docs 0..n_giants-1 are giants, the rest Zipf."""
    sizes = [GIANT_SPANS] * n_giants + [
        _zipf_spans(seed, j, n_docs - n_giants) for j in range(n_docs - n_giants)
    ]
    rows = [make_doc(seed, i, n) for i, n in enumerate(sizes)]
    _write_files(rows, out_dir, n_files)
    return Corpus(out_dir, list(range(n_docs)), sum(len(s) for _, s in rows), dir_bytes(out_dir))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# --------------------------------------------------------------------------
# curation corpus (sf-style dir)
# --------------------------------------------------------------------------
_STOP = "the a of and to in is it for on with as at by from".split()
# 4096 fixed pseudo-words: random docs share few shingles, so the LSH
# buckets hold the planted clusters and little else
_SYL = "ka lo mi nu pe ra si to vu za be do fe gi ho ju".split()
_VOCAB = [a + b + c for a in _SYL for b in _SYL for c in _SYL]
_BOILER = [  # each exactly dedup.LINE_SEG_WORDS (8) words: one line segment
    "click here to subscribe to our weekly newsletter",
    "all rights reserved copyright the data table press",
    "cookies help us deliver our services and more",
    "share this article on social media with friends",
    "this page was last edited on fifth march",
]
EMB_DIM = 64


@dataclass
class CurationCorpus:
    path: str
    n_docs: int
    exact_clusters: int
    near_clusters: int
    boiler_docs: int
    emb_clusters: int


def _text(rng: random.Random, n_words: int) -> list:
    return [rng.choice(_STOP if rng.random() < 0.3 else _VOCAB) for _ in range(n_words)]


def write_curation_dir(
    seed: int, out_dir: str, n_docs: int = 1000, n_emb: int = 800
) -> CurationCorpus:
    """Fixed structure for every seed: n_docs // 40 exact-duplicate clusters
    of 3, as many near-duplicate clusters of 3 (~3% of tokens edited), 30%
    of docs (all outside the clusters) opening with a boilerplate line;
    the seed picks lengths (40-119 words), words and order."""
    rng = random.Random(seed * 104729 + 3)
    n_cl = n_docs // 40
    n_single = n_docs - 6 * n_cl
    lengths = [40 + (i * 80) // n_docs for i in range(n_docs)]
    rng.shuffle(lengths)
    texts = [_text(rng, n) for n in lengths[:n_single]]
    n_boiler = round(0.3 * n_docs)
    for i in rng.sample(range(n_single), n_boiler):  # a line-segment boundary
        texts[i][:0] = _BOILER[i % len(_BOILER)].split()
    for c in range(n_cl):
        base = _text(rng, lengths[n_single + c])
        texts.extend(list(base) for _ in range(3))  # exact duplicates
    for c in range(n_cl):
        base = _text(rng, lengths[n_single + n_cl + c])
        texts.append(base)
        for _ in range(2):  # near duplicates
            m = list(base)
            for j in rng.sample(range(len(m)), max(1, len(m) // 33)):
                m[j] = rng.choice(_VOCAB)
            texts.append(m)
    rng.shuffle(texts)  # clusters do not sit on adjacent doc_ids
    docs = [" ".join(t) for t in texts]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(docs, pa.string()),
                "lang": pa.array([("en", "pt", "es")[i % 3] for i in range(n_docs)]),
                "source": pa.array([f"src{rng.randrange(8)}" for _ in range(n_docs)]),
                "n_chars": pa.array([len(t) for t in docs], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    nrng = np.random.default_rng(seed)
    vecs = nrng.normal(size=(n_emb, EMB_DIM)).astype(np.float32)
    for c in range(n_emb // 20):  # near-duplicate embedding clusters of 3
        a = c * 20
        vecs[a + 1:a + 3] = vecs[a] + nrng.normal(scale=0.01, size=(2, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_emb), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(nrng.integers(0, 8, n_emb), pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return CurationCorpus(out_dir, n_docs, n_cl, n_cl, n_boiler, n_emb // 20)
