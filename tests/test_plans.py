"""Plan-shape assertions: the scale contract, machine-checked.

Correctness says a query returns the right rows at sf0.01; these tests
pin the *physical plan properties* that make the same query survive a
1000-executor / 100 TB run: filters pushed into the parquet scan, column
pruning, bounded-heap TopN, WindowGroupLimit for partition-topn, no
Python UDFs or cartesian products in relational paths, and two-phase
(partial/final) aggregation.
"""

from __future__ import annotations

import io

import pytest
from pyspark.sql import functions as F

from palo_spark.catalog import load_table


def plan_of(df, mode: str = "formatted") -> str:
    """Capture df.explain() output as a string."""
    import contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def executed_plan_of(df) -> str:
    """Final (post-AQE) physical plan — runs the query."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


# --------------------------------------------------------------- scan layer


def test_q6_filters_reach_parquet_scan(spark, sf_dir):
    from palo_spark.suite.tpch import tpch_q6

    plan = plan_of(tpch_q6(spark, sf_dir))
    assert "PushedFilters:" in plan
    # shipdate range + discount band + quantity cap all pushed
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("\n")[0] or (
        "GreaterThanOrEqual(l_shipdate" in plan
    )
    assert "IsNotNull" in plan or "GreaterThan" in plan


def test_scan_prunes_columns(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    two_cols = li.select("l_orderkey", "l_quantity")
    plan = plan_of(two_cols)
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    # a 2-column projection must not read the 16-column row
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


# --------------------------------------------------------------- TopN layer


def test_sort_limit_is_bounded_heap(spark, sf_dir):
    """ORDER BY + LIMIT must be TakeOrderedAndProject (Doris TopN), not a
    total sort."""
    o = load_table(spark, sf_dir, "orders")
    plan = plan_of(o.orderBy(F.desc("o_totalprice")).limit(10))
    assert "TakeOrderedAndProject" in plan


def test_partition_topn_uses_window_group_limit(spark, sf_dir):
    """row_number() <= k filter must trigger WindowGroupLimit (Doris
    PARTITION_SORT): per-partition bounded heaps, not full sorts."""
    from palo_spark.suite.window_funcs import partition_topn

    plan = plan_of(partition_topn(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_similarity_topk_is_bounded(spark, sf_dir):
    from palo_spark.operators import similarity_topk

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).head()["embedding"]
    plan = plan_of(similarity_topk(e, qv, k=10))
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------- agg layer


def test_q1_aggregation_is_two_phase(spark, sf_dir):
    """Partial (map-side) + final HashAggregate — Doris's 2-phase agg."""
    from palo_spark.suite.tpch import tpch_q1

    plan = plan_of(tpch_q1(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()


def test_q1_stays_in_codegen(spark, sf_dir):
    """The Q1 hot path (scan→filter→project→agg) must be inside
    WholeStageCodegen spans — no Python, no codegen breaks. Codegen
    spans only appear in the post-AQE executed plan ("*(n)" prefixes)."""
    from palo_spark.suite.tpch import tpch_q1

    final = executed_plan_of(tpch_q1(spark, sf_dir))
    assert "*(1)" in final  # at least one whole-stage span
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


# --------------------------------------------------------------- join layer


def test_q5_no_forced_broadcast_on_scaled_tables(spark, sf_dir):
    """AQE decides the strategy for SF-scaled sides at runtime; the final
    plan at test scale may broadcast (they're small HERE), but the
    *logical* plan must carry no mandatory broadcast hint on customer/
    supplier/part — a hint would override AQE at 100×."""
    from palo_spark.suite.tpch import tpch_q5

    df = tpch_q5(spark, sf_dir)
    logical = df._jdf.queryExecution().analyzed().toString()
    # hints survive analysis as ResolvedHint(broadcast) nodes; the only
    # legitimate ones sit on the FIXED-SIZE dims (region: 5 rows,
    # nation: 25 rows — they do not grow with SF)
    for chunk in logical.split("ResolvedHint")[1:]:
        head = chunk[:400]
        assert ("n_nationkey" in head) or ("r_regionkey" in head), head
        for scaled in ("c_custkey", "s_suppkey", "p_partkey", "o_orderkey", "l_orderkey"):
            assert scaled not in head.split("Relation")[0], (scaled, head)


def test_dedup_minhash_has_no_cartesian(spark, sf_dir):
    """LSH candidate generation must be a keyed equi-join on the band
    bucket — never CartesianProduct / BroadcastNestedLoopJoin."""
    from palo_spark.operators import dedup_minhash

    d = load_table(spark, sf_dir, "documents").limit(100)
    # materialize=False: inspect the LAZY plan — the eager default
    # checkpoints the kept-id set, hiding the candidate join from
    # the final plan (it runs inside the checkpoint job)
    plan = plan_of(dedup_minhash(d, threshold=0.9, materialize=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gopher_keep_filter_runs_after_the_spread(spark):
    """gopher_rules spreads a few-partition input before its interpreted
    rule battery. A filter on ``keep`` — how pipelines use it — must
    stay above the round-robin exchange: pushed below it, the whole
    battery runs in the filter on the unspread single task."""
    import re

    from palo_spark.operators import gopher_rules

    assert spark.sparkContext.defaultParallelism > 1
    text = "the cat sat with the dog and a bird " * 8
    df = spark.createDataFrame(
        [(i, text) for i in range(20)], "doc_id long, text string"
    ).coalesce(1)
    kept = gopher_rules(df, "text", min_words=30).filter("keep")
    lines = kept._jdf.queryExecution().executedPlan().toString().splitlines()
    ex = [i for i, ln in enumerate(lines) if "Exchange RoundRobinPartitioning" in ln]
    filters = [i for i, ln in enumerate(lines) if re.search(r"[+-] (\*\(\d+\) )?Filter ", ln)]
    assert len(ex) == 1, lines
    assert filters and all(i < ex[0] for i in filters), lines
    assert kept.count() == 20


def test_embedding_dedup_has_no_cartesian(spark, sf_dir):
    from palo_spark.operators import dedup_embedding_cosine

    e = load_table(spark, sf_dir, "embeddings").limit(100)
    plan = plan_of(dedup_embedding_cosine(e, materialize=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_broadcast_nested_loop(spark, sf_dir):
    """The pure non-equi range join is the ONE place a nested-loop plan
    is correct: no equi conjunct exists, the broadcast side is a
    constant-size calendar frame, and the fact side streams. Assert
    Catalyst picks BroadcastNestedLoopJoin (not CartesianProduct, which
    would shuffle both sides) and that the theta entry with an equi
    conjunct still plans a hash join."""
    from palo_spark.suite.relational import (
        nested_loop_range_join,
        nested_loop_theta_join,
    )

    plan = plan_of(nested_loop_range_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    theta = plan_of(nested_loop_theta_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in theta
    assert "CartesianProduct" not in theta


def test_semi_anti_joins_are_native(spark, sf_dir):
    """IN / NOT IN subqueries must plan as semi/anti hash joins, not
    materialized distincts + inner joins."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    assert "LeftSemi" in plan_of(semi)
    assert "LeftAnti" in plan_of(anti)


# ----------------------------------------------------------- runtime (AQE)


def test_q3_final_plan_broadcasts_small_side(spark, sf_dir):
    """At test scale AQE must convert the filtered-customer join to a
    broadcast join at runtime — proving the unhinted query still gets
    the broadcast when the side IS small."""
    from palo_spark.suite.tpch import tpch_q3

    final = executed_plan_of(tpch_q3(spark, sf_dir))
    assert "AdaptiveSparkPlan isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final


def test_session_has_scale_posture(spark):
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_deferred_delete_filters_only_old_rowsets(spark, tmp_path):
    """A deferred DELETE's predicate must reach only rowsets older than
    the delete version: Catalyst constant-folds the per-rowset version
    literal, leaving a scan-adjacent codegen filter on the old rowset
    and NO filter on the post-delete rowset."""
    from pyspark.sql import Row

    from palo_spark.tables import Table

    t = Table(spark, "plandel", "DUPLICATE", ["k"], location=str(tmp_path / "t"))
    t.insert(spark.createDataFrame([Row(k=i, x=i - 5) for i in range(100)]))
    t.delete_where("x < 0")
    t.insert(spark.createDataFrame([Row(k=200 + i, x=-i) for i in range(10)]))
    plan = plan_of(t.read())
    assert plan.count("Scan parquet") >= 2
    # exactly ONE branch carries the delete filter (the pre-delete rowset)
    assert plan.count("NOT coalesce") == 1


def test_partitioned_table_read_prunes_partitions(spark, tmp_path):
    """A filter on a Table's partition column must prune at the file
    level (hive-style partition dirs → PartitionFilters), not scan all
    partitions and filter rows."""
    from pyspark.sql import Row

    from palo_spark.tables import Table

    t = Table(
        spark, "planpart", "DUPLICATE", ["k"],
        partition_by=["seg"], location=str(tmp_path / "t"),
    )
    t.insert(
        spark.createDataFrame(
            [Row(k=i, seg=["A", "B", "C"][i % 3], x=i) for i in range(90)]
        )
    )
    df = t.read().filter(F.col("seg") == "B")
    plan = plan_of(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "seg" in pf[0], f"partition filter not pushed: {pf}"
    assert df.count() == 30


def test_hash_sample_filter_pushed_to_scan(spark, sf_dir):
    """Deterministic sampling must stay a narrow scan-stage filter:
    no Exchange in the plan, and the scan still prunes columns."""
    from palo_spark.operators.sampling import sample_hash

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    plan = plan_of(sample_hash(d, "doc_id", 0.3, seed=7))
    assert "Exchange" not in plan
    assert "text" not in plan.split("ReadSchema")[-1][:200]  # pruned payload


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """Default (materialized) form: the contaminated-id set is computed
    inside the checkpoint job, so the returned plan is the ids-only
    LeftAnti broadcast join — no cartesian, no shuffle of the corpus
    against the id set (r12: 19e7e2e checkpoints the id set)."""
    from palo_spark.operators import decontaminate

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 20).select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") >= 100).select("doc_id", "text")
    plan = executed_plan_of(decontaminate(corpus, bench, n=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_decontaminate_lazy_form_broadcasts_semi_join(spark, sf_dir):
    """materialize=False keeps the whole pipeline lazy for plan
    introspection: the benchmark gram set is tiny → the contaminated-id
    semi-join must be broadcast (no shuffle of the full corpus gram list
    against it), and nothing plans a cartesian product."""
    from palo_spark.operators import decontaminate

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 20).select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") >= 100).select("doc_id", "text")
    plan = executed_plan_of(decontaminate(corpus, bench, n=8, materialize=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_cluster_resolution_no_cartesian(spark):
    """Connected components must stay keyed joins on the edge list."""
    from palo_spark.operators import resolve_dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], ["id_a", "id_b"]
    )
    plan = executed_plan_of(resolve_dup_clusters(pairs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunking_is_narrow(spark, sf_dir):
    """Chunking a 100 TB corpus must be embarrassingly parallel:
    generator + projection only, no Exchange."""
    from palo_spark.operators import chunk_documents

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = plan_of(chunk_documents(d))
    assert "Exchange" not in plan
    assert "Generate" in plan  # posexplode stays a native generator


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Two tables bucketed on their join keys with equal bucket counts
    must SortMergeJoin with ZERO shuffles — the co-located join that
    replaces per-query re-distribution of the fact table at scale."""
    from pyspark.sql import functions as F

    from palo_spark.catalog import load_table
    from palo_spark.sources import create_bucketed_table

    create_bucketed_table(
        load_table(spark, sf_dir, "customer"), "bkt_plan_cust", "c_custkey", 4
    )
    create_bucketed_table(
        load_table(spark, sf_dir, "orders"), "bkt_plan_ord", "o_custkey", 4
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path so the assertion is about bucketing,
        # not about the fixture being broadcast-small
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        c = spark.table("bkt_plan_cust")
        o = spark.table("bkt_plan_ord")
        j = c.join(o, c["c_custkey"] == o["o_custkey"]).select(
            "c_custkey", "o_orderkey"
        )
        j.collect()  # run through AQE so the final plan is the real one
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange" not in plan, plan[:2000]
        # and a groupBy on the bucket key skips its Exchange too
        g = spark.table("bkt_plan_ord").groupBy("o_custkey").agg(F.count("*"))
        g.collect()
        gplan = g._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in gplan, gplan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        # unset → falls back to the non-adaptive threshold again
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_aqe_splits_skewed_join(spark):
    """The session's AQE skew-join posture must actually fire: joining a
    heavily skewed fact side (one key owning ~all rows) against a dim
    must mark the SortMergeJoin skew=true and split the hot partition —
    the runtime answer to hot keys at 100 TB (no manual salting needed
    for joins; salting remains for pandas-UDAF aggs)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # shrink thresholds so the fixture-sized skew triggers the split
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 200_000).select(
            # ~99% of rows land on key 7
            F.when(F.col("id") % 100 < 99, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pad"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("name")
        )
        j = fact.join(dim, "k").select("k", "name", "pad")
        # collect() on THIS df so its own query execution is the one
        # AQE finalizes (count()/write() spawn separate executions)
        plan = executed_plan_of(j)
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bitmap_distinct_default_is_two_level(spark):
    """The default convenience NDV path must be the salted two-level
    shape: partial sketch per (key, salt) then merge per key — visible
    as TWO grouped-aggregate-in-pandas nodes in the optimized plan (the
    single-level form shows one). This is the 100 TB skew posture."""
    from palo_spark.functions.sketches import bitmap_distinct_count

    df = spark.createDataFrame(
        [(chr(97 + i % 2), i % 7) for i in range(50)], "g string, v int"
    )
    plan = bitmap_distinct_count(df, "g", "v")._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate [") == 2 and "__sketch_salt" in plan, plan
    # and the result still equals COUNT(DISTINCT)
    got = {r["g"]: r["ndv"] for r in bitmap_distinct_count(df, "g", "v").collect()}
    assert got == {"a": 7, "b": 7}


def test_text_index_prunes_posting_files(spark, tmp_path):
    """A selective MATCH through the posting index must physically touch
    only the query tokens' bucket partitions, not the whole index — the
    Spark-layout analog of Doris's segment posting-list pruning
    (inverted_index_reader.cpp upstream). Measured, not inferred: count
    distinct files via input_file_name on the filtered scan."""
    import glob
    from pyspark.sql import functions as F
    from palo_spark.operators import build_text_index, match_any_indexed, match_all_indexed, match_any, match_all
    from palo_spark.operators.text_index import _query_buckets, _TB

    docs = spark.createDataFrame(
        [(i, f"alpha bravo token{i % 23} charlie delta{i % 7}") for i in range(200)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "tidx")
    build_text_index(docs, path, buckets=32)

    total_files = len(glob.glob(f"{path}/{_TB}=*/*.parquet"))
    assert total_files >= 20  # enough buckets materialized to prune among

    query = "token3 delta5"
    bs = _query_buckets(spark, query.split(), 32)
    touched = (
        spark.read.parquet(path)
        .filter(F.col(_TB).isin(bs))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert touched < total_files / 4, (touched, total_files)

    # and the pruned path returns EXACTLY the full-scan MATCH semantics
    got_any = sorted(r["doc_id"] for r in match_any_indexed(docs, path, query).collect())
    want_any = sorted(r["doc_id"] for r in docs.filter(match_any("text", query)).collect())
    assert got_any == want_any and got_any
    got_all = sorted(r["doc_id"] for r in match_all_indexed(docs, path, "alpha token3").collect())
    want_all = sorted(r["doc_id"] for r in docs.filter(match_all("text", "alpha token3")).collect())
    assert got_all == want_all and got_all


def test_match_phrase_indexed_prune_then_verify(spark, tmp_path):
    from palo_spark.operators import build_text_index, match_phrase_indexed

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "quick the brown"), (3, "a quick brown dog"), (4, "nothing here")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "tidx2")
    build_text_index(docs, path, buckets=8)
    got = sorted(r["doc_id"] for r in match_phrase_indexed(docs, path, "quick brown").collect())
    assert got == [1, 3]  # doc 2 has both tokens (index candidate) but not adjacent


def test_sql_frontend_query_keeps_pushdown(spark, sf_dir):
    """Doris-dialect SQL text goes through translate() -> spark.sql; the
    resulting plan must get the same Catalyst treatment as the
    DataFrame API: filter pushed to the parquet scan, two-phase agg."""
    from palo_spark.suite.doris_sql import QUERIES

    plan = plan_of(QUERIES["sql_tpch_q1"](spark, sf_dir))
    assert "PushedFilters:" in plan and "l_shipdate" in plan
    assert plan.count("HashAggregate") >= 2


def test_semantic_dedup_no_cartesian_and_drops_planted(spark, sf_dir):
    """SemDeDup candidate generation must be an equi-join on the cell id
    (never all-pairs), and planted scaled copies (cosine exactly 1.0)
    must always be eliminated — scaling cannot move a vector to a
    different argmax cell than its original."""
    from pyspark.sql import functions as F

    from palo_spark.operators import semantic_dedup

    e = (
        load_table(spark, sf_dir, "embeddings")
        .limit(150)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    cents = [r["embedding"] for r in e.orderBy("vec_id").limit(4).collect()]
    planted = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 500000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    n_planted = planted.count()
    allv = e.unionByName(planted)
    out = semantic_dedup(allv, centroids=cents, threshold=0.99, materialize=False)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    kept = [r.vec_id for r in out.select("vec_id").collect()]
    assert n_planted > 0 and not any(v >= 500000 for v in kept)
    assert len(kept) == e.count()


def test_qualify_filter_stays_above_window(spark, sf_dir):
    """QUALIFY semantics: the predicate filters window RESULTS, so the
    optimized plan must keep the Filter above the Window node (a filter
    pushed below the window would change row_number assignments)."""
    from palo_spark.catalog import register_views
    from palo_spark.sql_frontend import doris_sql

    register_views(spark, sf_dir)
    df = doris_sql(
        spark,
        "SELECT o_custkey, o_orderkey FROM `orders` QUALIFY "
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1",
    )
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    w = opt.find("Window")
    f = opt.find("Filter")
    assert w != -1 and f != -1
    # toString prints top-down: the Filter line must come BEFORE Window
    assert f < w


def test_text_index_fingerprint_skip_and_rebuild(spark, sf_dir, tmp_path):
    """skip_if_current must no-op on an unchanged corpus and REBUILD when
    the corpus content changes (fingerprint covers (id, text))."""
    import os

    from palo_spark.operators import build_text_index, match_any_indexed

    docs = load_table(spark, sf_dir, "documents").limit(50)
    path = str(tmp_path / "tix")
    build_text_index(docs, path, buckets=8, skip_if_current=True)
    mtime = os.path.getmtime(os.path.join(path, "_palo_index_meta"))
    build_text_index(docs, path, buckets=8, skip_if_current=True)
    assert os.path.getmtime(os.path.join(path, "_palo_index_meta")) == mtime
    changed = docs.withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzzextra"))
    )
    build_text_index(changed, path, buckets=8, skip_if_current=True)
    assert os.path.getmtime(os.path.join(path, "_palo_index_meta")) != mtime
    assert match_any_indexed(changed, path, "zzzextra").count() == 50


def test_text_index_version_token_skips_without_scan(spark, sf_dir, tmp_path):
    """With a mutation token the freshness probe is O(1) metadata: an
    unchanged token must no-op EVEN IF the corpus content differs
    (proving no content scan happens), and a bumped token rebuilds."""
    import os

    from palo_spark.operators import build_text_index, match_any_indexed

    docs = load_table(spark, sf_dir, "documents").limit(50)
    path = str(tmp_path / "tixv")
    build_text_index(docs, path, buckets=8, skip_if_current=True, version="1")
    meta = os.path.join(path, "_palo_index_meta")
    mtime = os.path.getmtime(meta)
    changed = docs.withColumn("text", F.concat(F.col("text"), F.lit(" qqnew")))
    # same token → skip, regardless of content (freshness is the token)
    build_text_index(changed, path, buckets=8, skip_if_current=True, version="1")
    assert os.path.getmtime(meta) == mtime
    assert match_any_indexed(changed, path, "qqnew").count() == 0
    # bumped token → rebuild picks up the new content
    build_text_index(changed, path, buckets=8, skip_if_current=True, version="2")
    assert os.path.getmtime(meta) != mtime
    assert match_any_indexed(changed, path, "qqnew").count() == 50


def test_global_ntile_has_no_single_partition_stage(spark, sf_dir):
    """VERDICT r5's one scale-killer: NTILE over a global (unpartitioned)
    window plans as Exchange SinglePartition — one task sorts the whole
    frame. The decile/quartile suite shapes must use the distributed
    global_ntile (range shuffle + keyed window + offset join) instead,
    and no suite query may reintroduce the anti-pattern."""
    from palo_spark.suite.tpcds import tpcds_return_rate_bands, tpcds_spend_deciles

    def single_partition_sorts(plan: str) -> list[str]:
        # An Exchange SinglePartition is fine under a scalar aggregate
        # (one row per partition); it is the scale-killer only when a
        # Sort/Window consumes it — that one task then sorts everything.
        lines = plan.splitlines()
        bad = []
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            ctx = " ".join(lines[max(0, i - 2): i])
            if "Sort" in ctx or "Window" in ctx:
                bad.append(line.strip())
        return bad

    for fn in (tpcds_spend_deciles, tpcds_return_rate_bands):
        df = fn(spark, sf_dir)
        plan = executed_plan_of(df)
        assert not single_partition_sorts(plan), fn.__name__
        assert "Window" in plan  # the keyed per-range window is still there


def test_global_ntile_matches_window_ntile(spark):
    """Exact-semantics check across tile counts and frame sizes,
    including n < k and n % k != 0."""
    from pyspark.sql import Window

    from palo_spark.operators.ranking import global_ntile, global_row_number

    for n, k in [(7, 10), (40, 4), (41, 4), (1000, 10), (1, 3)]:
        df = spark.range(n).select(
            (F.col("id") * 37 % 1000).alias("v"), F.col("id").alias("id")
        )
        got = {
            (r["v"], r["id"]): r["t"]
            for r in global_ntile(df, ["v", "id"], k, out="t").collect()
        }
        want = {
            (r["v"], r["id"]): r["t"]
            for r in df.select(
                "v", "id", F.ntile(k).over(Window.orderBy("v", "id")).alias("t")
            ).collect()
        }
        assert got == want, (n, k)
    rn = {
        r["id"]: r["rn"]
        for r in global_row_number(
            spark.range(100).select((99 - F.col("id")).alias("id")), ["id"]
        ).collect()
    }
    assert rn == {i: i + 1 for i in range(100)}


def test_global_ranking_with_payload_column(spark):
    """ADVICE r6 (high): with any column NOT in order_cols, Catalyst
    used to column-prune the counts branch to the range keys, giving it
    a separate range Exchange whose RangePartitioner sampled boundaries
    independently of the main branch — the pid↔count mapping then
    disagreed with the actual partition assignment (observed: 469
    duplicate row numbers on 20k rows). The materialize-before-branch
    fix pins one physical frame; this test carries the payload column
    the old ntile test lacked."""
    from pyspark.sql import Window

    from palo_spark.operators.ranking import global_ntile, global_row_number

    n = 20_000
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % 1_000_003).alias("k"),
        F.col("id").alias("id"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    rows = global_row_number(df, ["k", "id"], out="rn").collect()
    rns = sorted(r["rn"] for r in rows)
    assert rns == list(range(1, n + 1))  # exact permutation: no dup, no gap
    # order agreement with the (single-partition) window form
    got = {(r["k"], r["id"]): r["rn"] for r in rows}
    want = {
        (r["k"], r["id"]): r["rn"]
        for r in df.select(
            "k", "id", F.row_number().over(Window.orderBy("k", "id")).alias("rn")
        ).collect()
    }
    assert got == want
    # ntile over the same payload-carrying frame: exact tile sizes
    tiles = (
        global_ntile(df, ["k", "id"], 10, out="t")
        .groupBy("t").count().collect()
    )
    assert sorted((r["t"], r["count"]) for r in tiles) == [
        (i, n // 10) for i in range(1, 11)
    ]


def test_python_xxhash64_matches_spark(spark):
    """The MATCH planner buckets query tokens driver-side with a pure-
    Python XXH64 (operators/text_index.py::xxhash64_str). A divergence
    from Spark's xxhash64 would silently probe the WRONG posting
    buckets — missed postings, wrong results — so the two hashes are
    pinned bit-equal across lengths (incl. the ≥32-byte lane path),
    unicode, and the empty string."""
    import random
    import string

    from palo_spark.operators.text_index import xxhash64_str

    rng = random.Random(20260814)
    samples = ["", "a", "merge", "the", "0" * 31, "x" * 32, "y" * 33,
               "z" * 100, "héllo wörld", "日本語テキスト"]
    samples += ["".join(rng.choices(string.printable, k=rng.randint(0, 120)))
                for _ in range(120)]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    for r in df.select("t", F.xxhash64("t").alias("h")).collect():
        assert xxhash64_str(r["t"]) == r["h"], r["t"][:30]


def test_global_cumsum_exact_with_payload(spark):
    """global_cumsum (the global_row_number shape with per-partition
    SUMs): running total must equal the sequential prefix sum in key
    order, including with a payload column riding along (the same
    branch-divergence trap the payload test above pins for ranking)."""
    from palo_spark.operators.ranking import global_cumsum

    n = 5_000
    df = spark.range(n).select(
        (n - 1 - F.col("id")).alias("k"),
        (F.col("id") % 7 + 1).alias("v"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    rows = global_cumsum(df, ["k"], "v", out="c").collect()
    vals = {r["k"]: r["v"] for r in rows}
    got = {r["k"]: r["c"] for r in rows}
    acc = 0
    for k in sorted(vals):
        acc += vals[k]
        assert got[k] == acc, (k, got[k], acc)
