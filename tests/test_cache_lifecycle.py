"""Operator persist lifecycle is structural, not caller's-burden
(VERDICT r8 advice #3 / "what's wrong" #1).

Every operator that persists an internal multi-branch stage
(dedup_minhash, embedding_dup_pairs, semantic_dedup, tfidf_top_terms,
bm25_scores, knn_join_lsh) now eager-checkpoints its decision frame and
unpersists the internals before returning. A long-lived session calling
them repeatedly WITHOUT ever calling release_persisted() must not
accumulate tracked caches — and once the results are dropped, the JVM
must be able to reach zero persistent RDDs.
"""

from __future__ import annotations

import gc
import time

from pyspark.sql import functions as F

from palo_spark.catalog import load_table
from palo_spark.operators.cache import _PERSISTED


def _live_block_rdds(spark) -> int:
    # getRDDStorageInfo: RDDs with LIVE cached blocks. (Do NOT poll
    # getPersistentRDDs() here — the returned JVM map strongly
    # references the RDD objects and the py4j proxy pins them until
    # Python GC runs, so the poll itself would defeat the drain.)
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _drain_jvm(spark, deadline_s: float = 30.0) -> int:
    """ContextCleaner frees checkpoint blocks only after JVM GC
    enqueues the dead references — force collections and poll."""
    end = time.time() + deadline_s
    n = _live_block_rdds(spark)
    while n and time.time() < end:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
        n = _live_block_rdds(spark)
    return n


def test_operators_leave_no_tracked_caches(spark, sf_dir):
    from palo_spark.operators import (
        dedup_embedding_cosine,
        dedup_minhash,
        knn_join_lsh,
        semantic_dedup,
        tfidf_top_terms,
    )
    from palo_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents").limit(120).select(
        "doc_id", "text"
    )
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .limit(120)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    cents = [r["embedding"] for r in emb.orderBy("vec_id").limit(3).collect()]
    qs = emb.limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )

    results = [
        dedup_minhash(docs, threshold=0.9),
        dedup_embedding_cosine(emb),
        semantic_dedup(emb, centroids=cents, threshold=0.99),
        tfidf_top_terms(docs, top_k=2),
        bm25_scores(docs, ["the", "data"]),
        knn_join_lsh(qs, emb, k=3),
    ]
    # the structural contract: the calls themselves left nothing tagged,
    # with release_persisted() never called
    assert _PERSISTED == [], [t for t, _ in _PERSISTED]
    # results stay fully consumable (comprehension: no loop variable
    # left behind to pin the last frame)
    assert all(c >= 0 for c in [r.count() for r in results])
    assert _PERSISTED == []

    # and once the results are dropped, the JVM can drain to zero
    # RDDs with live cached blocks (checkpoint blocks are
    # ContextCleaner-owned)
    del results
    assert _drain_jvm(spark) == 0


def test_lazy_form_still_tracks_and_releases(spark, sf_dir):
    """materialize=False keeps the r8 caller-release contract — the
    plan-introspection/composition escape hatch. dedup_minhash persists
    one frame, its (id, signature) sketch."""
    from palo_spark.operators import dedup_minhash
    from palo_spark.operators.cache import release_persisted

    docs = load_table(spark, sf_dir, "documents").limit(60).select(
        "doc_id", "text"
    )
    out = dedup_minhash(docs, threshold=0.9, materialize=False)
    assert [t for t, _ in _PERSISTED] == ["dedup_minhash"]
    assert out.count() > 0
    assert release_persisted("dedup_minhash") == 1
    assert _PERSISTED == []
