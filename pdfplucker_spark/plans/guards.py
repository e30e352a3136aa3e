"""Shuffle-skew guards for LSH candidate self-joins.

A banded-LSH pair stage joins a key table to itself on the band key; its
cost is sum(occupancy^2) over buckets. On honest corpora occupancy tracks
near-dup cluster size (BENCH/PLANS.md capacity math), but a degenerate
corpus — boilerplate-heavy crawl, constant column — collapses into a few
giant buckets and the within-bucket self-join goes quadratic. A bucket that
large is non-discriminative BY DEFINITION (everything matches everything:
it carries no similarity signal), so the scale-correct move is to drop it,
loudly, before the join.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

log = logging.getLogger(__name__)

# Never fires on the driver corpora (max observed band-key occupancy at
# sf0.1 is ~3 orders of magnitude below); at 10^9 rows the r/T scaling knobs
# (similarity.py docstring, BENCH/PLANS.md) keep honest buckets far under it.
DEFAULT_BUCKET_CAP = 100_000


def drop_oversized_buckets(
    keys: DataFrame,
    key_cols: tuple[str, ...],
    cap: int | None,
    log_label: str,
    with_occupancy: bool = False,
) -> DataFrame:
    """Drop rows of bucket keys whose occupancy exceeds ``cap``.

    One counting aggregation on the SAME shuffle key as the downstream
    candidate join (the exchange is reused); the over-cap key set is
    persisted, counted and logged — silence here would read as full
    recall when it isn't. At most sum(occ)/cap keys can exceed the cap, so
    that set is bounded and broadcastable by construction: rows are
    filtered by a broadcast ANTI-join against it, never by a join-back
    against the (corpus-scale, for raw-shingle guards) surviving set.
    NULL-keyed rows are kept by the anti-join and never counted as
    dropped: NULL never equi-joins NULL, so every downstream candidate
    join drops them anyway (the documented dedup-family null policy).
    ``keys`` should be persisted by the caller (the guard is its second
    consumer).

    ``with_occupancy=True`` returns instead ``keys`` inner-joined to the
    surviving occupancy counts, carrying them as ``_occ`` — for callers
    that rank keys by document frequency (the prefix filters). The counts
    frame is persisted there, so the drop count and the join share one
    aggregation pass; the inner join also drops NULL-keyed rows, and
    ``cap=None`` still joins (schema gains ``_occ``) without dropping.
    ``cap=None`` alone is a true pass-through."""
    cols = list(key_cols)
    if cap is None and not with_occupancy:
        return keys
    occ = keys.groupBy(*cols).agg(F.count("*").alias("_occ"))
    if with_occupancy:
        occ = occ.persist()
    if cap is not None:
        over = occ.where(F.col("_occ") > cap).persist()
        n_dropped = over.dropna(subset=cols).count()
        if n_dropped:
            log.warning(
                "%s: dropped %d over-capacity LSH buckets (cap=%d) — "
                "non-discriminative keys excluded from the candidate join",
                log_label,
                n_dropped,
                cap,
            )
    if with_occupancy:
        return keys.join(occ if cap is None else occ.where(F.col("_occ") <= cap), cols)
    return keys.join(F.broadcast(over.select(*cols)), cols, "left_anti")


def bucket_pairs(
    keys: DataFrame,
    key_cols: tuple[str, ...],
    id_col: str,
    cap: int | None,
    log_label: str,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """THE guarded candidate self-join: every pair of rows sharing all of
    ``key_cols``, each unordered pair once (``a.id < b.id``), after
    over-cap buckets are dropped by ``drop_oversized_buckets``. The guard
    runs below the join, so within-bucket work is bounded by cap² per key.

    Returns ``<stem>_a, <stem>_b`` (``stem`` is ``id_col`` without a
    ``_id`` suffix: ``doc_id`` gives ``doc_a, doc_b``) and, for each
    payload column ``p``, ``p_a, p_b``. A pair colliding in several
    buckets appears once per shared bucket: callers that need unique
    pairs deduplicate (after any cheap pair filter). ``keys`` should be
    persisted by the caller — it feeds the guard and both join sides."""
    kept = drop_oversized_buckets(keys, key_cols, cap, log_label)
    a, b = kept.alias("a"), kept.alias("b")
    on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in key_cols]
    stem = id_col.removesuffix("_id")
    return a.join(b, on + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]).select(
        F.col(f"a.{id_col}").alias(f"{stem}_a"),
        F.col(f"b.{id_col}").alias(f"{stem}_b"),
        *(F.col(f"{s}.{p}").alias(f"{p}_{s}") for p in payload for s in "ab"),
    )
