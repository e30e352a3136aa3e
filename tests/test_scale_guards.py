"""Degenerate-input guards: the failure modes that only show up at scale.

- LSH bucket-size caps: a boilerplate-heavy corpus collapses into a few
  giant band buckets; the within-bucket self-join must stay bounded (keys
  over the cap are dropped-and-logged, never joined quadratically).
- connected_components loop hygiene: a long-chain graph (diameter > the old
  20-iteration cap) must still converge, with lineage truncated by periodic
  localCheckpoint so plan depth does not grow with iteration count.
"""

import logging

import pytest
from pyspark.sql import Row, functions as F

from pdfplucker_spark.operators.dedup import q_dedup_ngram_pairs
from pdfplucker_spark.operators.pipeline import connected_components
from pdfplucker_spark.operators.similarity import q_sim_cosine_dup_pairs

BOILERPLATE = "terms of service apply to all users of this site please read carefully"


def _write_degenerate_docs(spark, path: str, n: int = 400) -> None:
    rows = [
        Row(
            doc_id=i,
            text=BOILERPLATE,
            lang="en",
            source="crawl",
            n_chars=len(BOILERPLATE),
        )
        for i in range(n)
    ]
    spark.createDataFrame(rows).write.parquet(f"{path}/documents.parquet")


def test_ngram_bucket_guard_bounds_degenerate_corpus(spark, tmp_path, caplog):
    """400 identical boilerplate docs: every band key has occupancy 400 —
    unguarded, the self-join is ~400^2/2 * 8 bands of candidates. With the
    cap, the non-discriminative buckets are dropped (logged) and the
    operator returns no pairs instead of going quadratic."""
    _write_degenerate_docs(spark, str(tmp_path))
    with caplog.at_level(logging.WARNING, logger="pdfplucker_spark.plans.guards"):
        out = q_dedup_ngram_pairs(spark, str(tmp_path), bucket_cap=100)
        assert out.count() == 0
    assert any("dedup_ngram_pairs" in r.message and "dropped" in r.message
               for r in caplog.records)


def _dropped(records, label: str) -> list:
    """The drop counts the bucket guard logged under ``label``."""
    return [
        r.args[1]
        for r in records
        if "over-capacity" in str(r.msg) and r.args[0] == label
    ]


# (module, operator, guard log label, cap below the corpus's key occupancy:
# 400 identical docs; the eval side of decontamination is ~1/10 of them)
_DEGENERATE_OPS = [
    ("dedup", "q_dedup_minhash_pairs", "dedup_minhash_pairs", 100),
    ("dedup", "q_dedup_incremental", "dedup_incremental", 100),
    ("dedup", "q_dedup_containment_pairs", "dedup_containment_pairs", 100),
    ("dedup", "q_dedup_containment_prefix", "dedup_containment_prefix", 100),
    ("dedup", "q_docs_winnow_pairs", "winnow_pairs", 100),
    ("pipeline", "q_docs_decontaminate_incremental",
     "docs_decontaminate_incremental", 10),
]


@pytest.mark.parametrize(
    "module,op,label,cap", _DEGENERATE_OPS, ids=[o[1] for o in _DEGENERATE_OPS]
)
def test_bucket_guard_bounds_degenerate_corpus(
    spark, tmp_path, caplog, module, op, label, cap
):
    """The boilerplate corpus through every other guarded operator: each
    key's occupancy is above ``cap``, so the guard logs a nonzero drop
    under the operator's label and the candidate join emits nothing
    instead of going quadratic."""
    import importlib

    fn = getattr(importlib.import_module(f"pdfplucker_spark.operators.{module}"), op)
    _write_degenerate_docs(spark, str(tmp_path))
    with caplog.at_level(logging.WARNING, logger="pdfplucker_spark.plans.guards"):
        assert fn(spark, str(tmp_path), cap).count() == 0
    counts = _dropped(caplog.records, label)
    assert counts and all(n > 0 for n in counts), [
        r.getMessage() for r in caplog.records
    ]


@pytest.mark.parametrize(
    "op,label",
    [
        ("q_dedup_minhash_pairs", "dedup_minhash_pairs"),
        ("q_dedup_simhash_pairs", "dedup_simhash_pairs"),
    ],
)
def test_bucket_guard_does_not_count_null_keys(spark, tmp_path, caplog, op, label):
    """More NULL-text docs than the cap: their NULL band keys form one
    over-cap bucket per band, which the anti-join keeps (NULL never
    equi-joins, so they pair with nothing). Counting it as dropped would
    overstate the guard's recall loss — nothing is logged, and the NULL
    docs still appear in no pair."""
    from pdfplucker_spark.operators import dedup

    rows = [
        Row(doc_id=i, text=f"doc {i} alpha{i} beta{i * 7} gamma{i * 13} delta",
            lang="en", source="crawl", n_chars=30)
        for i in range(60)
    ] + [
        Row(doc_id=1000 + i, text=None, lang="en", source="crawl", n_chars=0)
        for i in range(40)
    ]
    spark.createDataFrame(rows, "doc_id long, text string, lang string, "
                          "source string, n_chars long").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    with caplog.at_level(logging.WARNING, logger="pdfplucker_spark.plans.guards"):
        out = getattr(dedup, op)(spark, str(tmp_path), 20).collect()
    assert not _dropped(caplog.records, label), [r.getMessage() for r in caplog.records]
    assert not any(r.doc_a >= 1000 or r.doc_b >= 1000 for r in out)


def test_ngram_bucket_guard_silent_on_honest_corpus(spark):
    """The default cap must never fire on the driver corpus: guarded and
    unguarded results are identical at sf0.001."""
    sf = "/root/testdata/sf0.001"
    guarded = q_dedup_ngram_pairs(spark, sf)
    unguarded = q_dedup_ngram_pairs(spark, sf, bucket_cap=None)
    assert guarded.exceptAll(unguarded).count() == 0
    assert unguarded.exceptAll(guarded).count() == 0


def test_sim_bucket_guard_bounds_degenerate_embeddings(spark, tmp_path, caplog):
    """400 identical embeddings land in the same bucket of every LSH table;
    the cap drops those buckets so the candidate join stays bounded."""
    vec = [0.5] * 64
    rows = [Row(vec_id=i, embedding=vec, label=0) for i in range(400)]
    spark.createDataFrame(rows).selectExpr(
        "vec_id", "cast(embedding as array<float>) embedding", "label"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    with caplog.at_level(logging.WARNING, logger="pdfplucker_spark.plans.guards"):
        out = q_sim_cosine_dup_pairs(spark, str(tmp_path), bucket_cap=100)
        assert out.count() == 0
    assert any("sim_cosine_dup_pairs" in r.message for r in caplog.records)


def test_decontaminate_df_cap_bounds_boilerplate_corpus(spark, tmp_path, caplog):
    """400 docs sharing the same boilerplate text: every shingle has
    document frequency 400, so the unguarded train⋈eval shingle join fans
    out df_train×df_eval per key (~360×40 per shingle — quadratic on a hot
    key at corpus scale). With the df cap, the non-discriminative shingles
    are dropped-and-logged and the join produces nothing instead of
    exploding."""
    from pdfplucker_spark.operators.pipeline import q_docs_decontaminate

    _write_degenerate_docs(spark, str(tmp_path))
    with caplog.at_level(logging.WARNING, logger="pdfplucker_spark.plans.guards"):
        out = q_docs_decontaminate(spark, str(tmp_path), df_cap=50)
        assert out.count() == 0
    assert any(
        "docs_decontaminate" in r.message and "dropped" in r.message
        for r in caplog.records
    )


def test_decontaminate_df_cap_silent_on_honest_corpus(spark):
    """The default cap must never fire on the driver corpus: guarded and
    unguarded results are identical at sf0.001."""
    from pdfplucker_spark.operators.pipeline import q_docs_decontaminate

    sf = "/root/testdata/sf0.001"
    guarded = q_docs_decontaminate(spark, sf)
    unguarded = q_docs_decontaminate(spark, sf, df_cap=None)
    assert guarded.exceptAll(unguarded).count() == 0
    assert unguarded.exceptAll(guarded).count() == 0


def test_connected_components_long_chain_converges(spark):
    """A 24-node chain has diameter 23: the r7 min-label loop paid one
    distributed round PER HOP; the alternating large-star/small-star loop
    must collapse it to one component in O(log n) rounds (≤6 — the r7
    verdict's promotion criterion)."""
    n = 24
    nodes = spark.createDataFrame([Row(node=i) for i in range(n)])
    pairs = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(n - 1)])
    labels = connected_components(nodes, pairs)
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert connected_components.last_rounds <= 6, (
        connected_components.last_rounds
    )
    # lineage hygiene: per-round localCheckpoint truncates the plan — the
    # final frame's plan must carry only the label read-off join, never a
    # rounds-deep star-contraction chain
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= 4, plan[:3000]


def test_connected_components_fuzz_vs_union_find(spark):
    """Random graphs vs an independent pure-Python union-find: the min-label
    fixpoint must equal the true components (same partition AND the same
    min-id label) on shapes the driver corpus never produces — stars,
    cycles, isolated nodes, multi-edges."""
    import random

    def union_find_labels(n, edges):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # label = min node id of the component
        comp = {}
        for v in range(n):
            comp.setdefault(find(v), []).append(v)
        return {v: min(members) for members in comp.values() for v in members}

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        m = rng.choice([10, 35, 80])
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        nodes = spark.createDataFrame([Row(node=i) for i in range(n)])
        pairs = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])
        got = {
            r["node"]: r["label"]
            for r in connected_components(nodes, pairs).collect()
        }
        assert got == union_find_labels(n, edges), (trial, m)


def test_connected_components_cap_logs_not_silent(spark, caplog):
    """Hitting the safety cap before convergence must be loud. One
    large+small round cannot fully contract a 24-chain (star contraction
    only halves distances), so max_iters=1 is guaranteed non-converged."""
    n = 24
    nodes = spark.createDataFrame([Row(node=i) for i in range(n)])
    pairs = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(n - 1)])
    with caplog.at_level(logging.WARNING, logger="pdfplucker_spark.operators.pipeline"):
        connected_components(nodes, pairs, max_iters=1).collect()
    assert any("safety cap" in r.message for r in caplog.records)


def test_containment_prefix_filter_is_lossless(spark, tmp_path):
    """The PPJoin-style prefix filter must return EXACTLY the direct
    operator's pairs — on the real corpus and on a crafted quote/subset
    corpus (short doc fully embedded in a long one: containment 1.0 with
    low Jaccard, the case the operator exists for)."""
    from pyspark.sql import Row

    from pdfplucker_spark.operators.dedup import (
        q_dedup_containment_pairs,
        q_dedup_containment_prefix,
    )

    sf = "/root/testdata/sf0.001"
    direct = q_dedup_containment_pairs(spark, sf)
    prefix = q_dedup_containment_prefix(spark, sf)
    assert direct.exceptAll(prefix).count() == 0
    assert prefix.exceptAll(direct).count() == 0

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    long_doc = (
        "intro words here " + quote + " and a very long tail of unrelated "
        "content that keeps the jaccard similarity low while containment "
        "of the short quoted document stays total"
    )
    rows = [
        Row(doc_id=1, text=quote, lang="en", source="s", n_chars=len(quote)),
        Row(doc_id=2, text=long_doc, lang="en", source="s", n_chars=len(long_doc)),
        Row(doc_id=3, text="completely different material", lang="en", source="s", n_chars=29),
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/documents.parquet")
    d2 = q_dedup_containment_pairs(spark, str(tmp_path))
    p2 = q_dedup_containment_prefix(spark, str(tmp_path))
    got = {(r.doc_a, r.doc_b): r.containment for r in p2.collect()}
    assert got == {(r.doc_a, r.doc_b): r.containment for r in d2.collect()}
    assert got[(1, 2)] == 1.0  # the quote is fully contained
    assert (2, 1) not in got  # asymmetry: the long doc is NOT in the short


def test_ngram_prefix_filter_is_lossless(spark):
    """The Jaccard prefix filter must return the COMPLETE pair set: every
    all-pairs (brute-force) Jaccard >= t pair, exactly — the property the
    round-1 LSH blocking only approximated (recall ~0.97/pair). Brute
    force here is the unblocked cross-join over the same shingle sets."""
    from pdfplucker_spark.operators.dedup import (
        NGRAM_THRESHOLD,
        _verify_jaccard,
        q_dedup_ngram_pairs,
        shingles_frame,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    sh = shingles_frame(docs).withColumnRenamed("sh", "toks").persist()
    ids = sh.select("doc_id")
    allpairs = (
        ids.withColumnRenamed("doc_id", "doc_a")
        .crossJoin(ids.withColumnRenamed("doc_id", "doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
    )
    brute = _verify_jaccard(allpairs, sh, "doc_a", "doc_b", NGRAM_THRESHOLD)
    prefix = q_dedup_ngram_pairs(spark, sf)
    assert brute.exceptAll(prefix).count() == 0
    assert prefix.exceptAll(brute).count() == 0


def test_semdedup_cluster_guard_bounds_degenerate_embeddings(spark, tmp_path, caplog):
    """400 identical embeddings collapse into one k-means cluster; the
    cluster-occupancy cap drops it so the within-cluster self-join stays
    bounded — every vector is then its own component (all kept)."""
    from pdfplucker_spark.operators.similarity import q_sim_semdedup

    vec = [0.5] * 64
    rows = [Row(vec_id=i, embedding=vec, label=0) for i in range(400)]
    spark.createDataFrame(rows).selectExpr(
        "vec_id", "cast(embedding as array<float>) embedding", "label"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    with caplog.at_level(logging.WARNING, logger="pdfplucker_spark.plans.guards"):
        out = q_sim_semdedup(spark, str(tmp_path), cluster_cap=100).collect()
    assert len(out) == 400
    assert all(r.keep for r in out)  # no pairs -> every vector canonical
    assert any("sim_semdedup" in r.message and "dropped" in r.message
               for r in caplog.records)


def test_semdedup_keeps_one_canonical_per_component(spark):
    """On the real corpus: keep-set = exactly the distinct component
    labels, and every dropped vector shares a component with its keeper."""
    from pdfplucker_spark.operators.similarity import q_sim_semdedup

    out = q_sim_semdedup(spark, "/root/testdata/sf0.001").collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r.cluster_label, []).append(r)
    for label, members in by_label.items():
        keepers = [r for r in members if r.keep]
        assert len(keepers) == 1 and keepers[0].vec_id == label == min(
            r.vec_id for r in members
        )


def test_semdedup_sampled_fit_touches_only_the_sample(spark, monkeypatch):
    """The 10⁹-vector contract of q_sim_semdedup_sampled: the Lloyd fit
    runs on the deterministic md5-gated 1/SEMDEDUP_FIT_MOD sample only —
    never the full corpus. Capture the frame kmeans_fit receives and
    assert it is exactly the gate's row set, a strict subset of the
    corpus, and that its seeds are the K smallest sampled ids."""
    from pdfplucker_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    n_all = emb.count()
    expected_fit_ids = {
        r.vec_id for r in sim._semdedup_fit_sample(emb).select("vec_id").collect()
    }
    assert 0 < len(expected_fit_ids) < n_all

    seen = {}
    real_fit = sim.kmeans_fit

    def spy(fit_emb, max_iters=sim.KMEANS_MAX_ITERS, seeds=None):
        seen["fit_ids"] = {r.vec_id for r in fit_emb.select("vec_id").collect()}
        seen["seed_cids"] = {r.cid for r in seeds.select("cid").collect()}
        return real_fit(fit_emb, max_iters=max_iters, seeds=seeds)

    monkeypatch.setattr(sim, "kmeans_fit", spy)
    out = sim.q_sim_semdedup_sampled(spark, sf).collect()
    assert seen["fit_ids"] == expected_fit_ids
    assert seen["seed_cids"] == set(sorted(expected_fit_ids)[: sim.IVF_K])
    # the verdict still covers the WHOLE corpus (assignment is full-scan)
    assert len(out) == n_all


def test_stream_dedup_incremental_cap_silent_on_driver_corpus(spark, tmp_path, caplog):
    """ADVICE r6: stream_dedup_incremental caps its INDEX side at
    DEFAULT_BUCKET_CAP while the registered oracle encodes no cap, so
    correctness rests on the cap never firing on driver corpora — assert
    that directly (caplog stays guard-silent over a full fresh drain of
    the sf0.001 wave staging), mirroring the batch guards' never-fires
    tests. A firing cap would otherwise surface only as an opaque oracle
    mismatch."""
    from pyspark.sql import functions as F

    from pdfplucker_spark.functions.hashing import md5_long
    from pdfplucker_spark.streaming.stream import (
        STREAM_INC_BATCHES,
        stream_dedup_incremental,
    )
    from tests.test_streaming import _stage_wave_files

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").withColumn(
        "bno",
        (
            md5_long(F.concat(F.lit("sb:"), F.col("doc_id").cast("string")))
            % STREAM_INC_BATCHES
        ).cast("int"),
    )
    in_dir = f"{tmp_path}/in"
    _stage_wave_files(spark, d, in_dir)
    with caplog.at_level(logging.WARNING, logger="pdfplucker_spark.plans.guards"):
        q = stream_dedup_incremental(
            spark, in_dir, f"{tmp_path}/out", f"{tmp_path}/ckpt"
        )
        assert q.awaitTermination(300)
    assert not [
        r for r in caplog.records if "stream_dedup_incremental" in r.message
    ], [r.message for r in caplog.records]
    # the drain really screened: the committed index holds every wave
    from pdfplucker_spark.streaming.stream import _committed_waves

    assert _committed_waves(f"{tmp_path}/out_index") == list(
        range(STREAM_INC_BATCHES)
    )


def test_simhash_pairs_complete_vs_bruteforce(spark):
    """The Manku block banding must be COMPLETE at the radius: every pair
    within Hamming distance SIMHASH_HAM_K of the 60-bit fingerprints —
    computed brute-force over all C(500,2) pairs here — must appear in
    the operator output with the exact distance, and nothing else may."""
    from pdfplucker_spark.operators.dedup import (
        _SIMHASH60,
        _TOKEN_HASHES,
        SIMHASH_HAM_K,
        q_dedup_simhash_pairs,
    )
    from pdfplucker_spark.sources.tables import load

    sf = "/root/testdata/sf0.001"
    sh = {
        r["doc_id"]: r["simhash"]
        for r in load(spark, sf, "documents")
        .select("doc_id", F.expr(_TOKEN_HASHES).alias("__th"))
        .select("doc_id", F.expr(_SIMHASH60).alias("simhash"))
        .collect()
    }
    ids = sorted(sh)
    expect = {
        (a, b): (sh[a] ^ sh[b]).bit_count()
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (sh[a] ^ sh[b]).bit_count() <= SIMHASH_HAM_K
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in q_dedup_simhash_pairs(spark, sf).collect()
    }
    assert got == expect


def test_simhash_bucket_guard_bounds_degenerate_corpus(spark, tmp_path, caplog):
    """400 identical boilerplate docs share ONE fingerprint: all 20 block
    tables collapse to a single bucket of occupancy 400 — unguarded, the
    self-join is ~400²/2 × 20 tables of candidates. With the cap, the
    non-discriminative buckets are dropped (logged) and the operator
    returns no pairs instead of going quadratic."""
    from pdfplucker_spark.operators.dedup import q_dedup_simhash_pairs

    _write_degenerate_docs(spark, str(tmp_path))
    with caplog.at_level(logging.WARNING, logger="pdfplucker_spark.plans.guards"):
        out = q_dedup_simhash_pairs(spark, str(tmp_path), bucket_cap=100)
        assert out.count() == 0
    assert any(
        "dedup_simhash_pairs" in r.message and "dropped" in r.message
        for r in caplog.records
    )


def test_simhash_bucket_guard_silent_on_honest_corpus(spark):
    """The default cap must never fire on the driver corpus: guarded and
    unguarded results are identical at sf0.001."""
    from pdfplucker_spark.operators.dedup import q_dedup_simhash_pairs

    sf = "/root/testdata/sf0.001"
    guarded = q_dedup_simhash_pairs(spark, sf)
    unguarded = q_dedup_simhash_pairs(spark, sf, bucket_cap=None)
    assert guarded.exceptAll(unguarded).count() == 0
    assert unguarded.exceptAll(guarded).count() == 0


def test_simhash_pairs_null_docs_produce_no_pairs(spark):
    """The dedup-family null policy: null-text docs get NULL fingerprints
    whose band keys never equi-join — they appear in NO pair, and the
    real-doc pairs are exactly the plain operator's output."""
    from pdfplucker_spark.operators.dedup import (
        q_dedup_simhash_pairs,
        q_dedup_simhash_pairs_nulls,
    )

    sf = "/root/testdata/sf0.001"
    plain = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in q_dedup_simhash_pairs(spark, sf).collect()
    }
    with_nulls = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in q_dedup_simhash_pairs_nulls(spark, sf).collect()
    }
    assert with_nulls == plain
    assert not any(a >= 10_000_000 or b >= 10_000_000 for a, b, _ in with_nulls)
