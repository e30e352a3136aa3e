"""Tests of the seeded generators (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import collections
import filecmp
import os

import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from pdfplucker_spark import gen


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


@pytest.mark.parametrize("seed", [1, 7])
def test_docs_same_seed_same_bytes(tmp_path, seed):
    a = inputs.write_docs(seed, str(tmp_path / "a"), 300, 1, 3)
    b = inputs.write_docs(seed, str(tmp_path / "b"), 300, 1, 3)
    assert _same_files(a.path, b.path)


def test_docs_other_seed_keeps_properties(tmp_path):
    a = inputs.write_docs(1, str(tmp_path / "a"), 300, 2, 3)
    b = inputs.write_docs(2, str(tmp_path / "b"), 300, 2, 3)
    assert not _same_files(a.path, b.path)
    for c in (a, b):
        t = pq.read_table(c.path)
        sizes = [len(s) for s in t["spans"].to_pylist()]
        assert t.num_rows == 300 and len(os.listdir(c.path)) == 3
        assert sum(n == inputs.GIANT_SPANS for n in sizes) == 2
        assert max(sizes[2:]) <= inputs.MAX_SPANS
        assert c.poison_ids == {f"doc_{i:08d}" for i in range(300) if gen.is_poison(i)}
        assert len(c.poison_ids) == 3  # idx % 97 == 13 below 300


def test_curation_dir(tmp_path):
    a = inputs.write_curation_dir(5, str(tmp_path / "a"), 800, 200)
    b = inputs.write_curation_dir(5, str(tmp_path / "b"), 800, 200)
    c = inputs.write_curation_dir(6, str(tmp_path / "c"), 800, 200)
    assert _same_files(a.path, b.path) and not _same_files(a.path, c.path)
    for corpus in (a, c):
        docs = pq.read_table(os.path.join(corpus.path, "documents.parquet"))
        assert docs.num_rows == 800
        assert docs.schema.names == ["doc_id", "text", "lang", "source", "n_chars"]
        texts = docs["text"].to_pylist()
        counts = collections.Counter(texts)
        assert corpus.exact_clusters == corpus.near_clusters == 20
        assert sorted(n for n in counts.values() if n > 1) == [3] * corpus.exact_clusters
        firsts = collections.Counter(" ".join(t.split()[:8]) for t in texts)
        assert sum(firsts[b] for b in inputs._BOILER) == corpus.boiler_docs == 240
        emb = pq.read_table(os.path.join(corpus.path, "embeddings.parquet"))
        assert emb.num_rows == 200 and len(emb["embedding"][0]) == inputs.EMB_DIM


def test_docs_span_total_is_seed_free(tmp_path):
    a = inputs.write_docs(1, str(tmp_path / "a"), 400, 1, 2)
    b = inputs.write_docs(9, str(tmp_path / "b"), 400, 1, 2)
    assert a.n_spans == b.n_spans
