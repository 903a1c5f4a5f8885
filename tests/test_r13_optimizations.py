"""Pins for the r13 optimization round's operator-internal changes.

Each test pins the BEHAVIOR the optimization relies on (not timings):
the rowset-read-handle cache returns live lazy plans that survive
append-only loads but invalidate at every deletion-class mutation
(partition drop/truncate/replace, compaction, TRUNCATE TABLE) —
including mutations committed through ANOTHER handle of the same table
directory — and the partition-rollup store-read cache invalidates when
a refresh swaps partition dirs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _month_table(spark, loc, name="r13_rowset_cache"):
    from palo_spark.tables import Table

    return Table(
        spark,
        name,
        keys_type="DUPLICATE",
        key_cols=["k"],
        auto_partition=("d", "month"),
        location=loc,
    )


def _batch(spark, lo, hi, day0="2024-01-01"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.expr(f"date_add(date'{day0}', cast(id % 120 as int))").alias("d"),
        (F.col("id") * 2).alias("v"),
    )


def test_rowset_handle_cache_identity_and_load_survival(spark, tmp_path):
    """Same (session, table, rowset, storage epoch) → the SAME lazy
    read handle; an append-only load creates a NEW rowset dir and must
    NOT discard the prior rowsets' cached handles."""
    t = _month_table(spark, str(tmp_path / "t"))
    t.insert(_batch(spark, 0, 500))
    p0 = t.meta.rowsets[0]["path"]
    a = t._rowset_frame(p0)
    assert t._rowset_frame(p0) is a, "second read must hit the handle cache"
    t.insert(_batch(spark, 500, 900))
    assert t._rowset_frame(p0) is a, "append-only load must keep handles"
    # nothing row-level is cached: the merge view sees both loads
    assert t.read().count() == 900


@pytest.mark.parametrize("mutation", ["drop", "truncate_part", "compact", "truncate"])
def test_rowset_cache_invalidates_on_deletion_class_mutations(
    spark, tmp_path, mutation
):
    """Every operation that deletes/rewrites files under existing
    rowset paths must bump the storage epoch, so a later read never
    probes a stale handle's file listing (FILE_NOT_EXIST class)."""
    t = _month_table(spark, str(tmp_path / "t"), f"r13_inval_{mutation}")
    t.insert(_batch(spark, 0, 500))
    t.insert(_batch(spark, 500, 900))
    before = t.read().count()
    assert before == 900
    epoch0 = t.meta.storage_epoch
    labels = t.partitions()
    if mutation == "drop":
        t.drop_partition(labels[0])
    elif mutation == "truncate_part":
        t.truncate_partition(labels[0])
    elif mutation == "compact":
        t.compact()
    else:
        t.truncate()
    assert t.meta.storage_epoch > epoch0, "deletion site must bump the epoch"
    if mutation in ("drop", "truncate_part"):
        got = t.read().count()
        assert 0 < got < before  # one month label gone, rest intact
    elif mutation == "compact":
        assert t.read().count() == before
    else:
        with pytest.raises(ValueError):
            t.read()


def test_rowset_cache_replace_partition_swaps_staged_rows(spark, tmp_path):
    """REPLACE PARTITION renames dirs under live rowsets — the staged
    rows must be visible through a handle cached before the swap."""
    from palo_spark.tables import Table

    t = Table(
        spark,
        "r13_inval_replace",
        keys_type="DUPLICATE",
        key_cols=["k"],
        range_partitions={
            "col": "k",
            "parts": [
                {"name": "p0", "upper": "500"},
                {"name": "p1", "upper": "1000"},
            ],
        },
        location=str(tmp_path / "t"),
    )
    t.insert(spark.range(0, 900).select("id").withColumnRenamed("id", "k"))
    assert t.read().count() == 900  # caches the rowset handles
    t.add_temp_partition("tp0", upper="500")
    t.insert(
        spark.range(0, 100).select("id").withColumnRenamed("id", "k"),
        temp_partition="tp0",
    )
    t.replace_partition("p0", "tp0")
    # p0's 500 rows replaced by the 100 staged rows; p1's 400 intact
    assert t.read().count() == 500


def test_rowset_cache_cross_handle_invalidation(spark, tmp_path):
    """A deletion committed through ANOTHER handle of the same table
    directory must invalidate this handle's cached rowset reads (the
    persisted storage_epoch travels through _sync_meta)."""
    from palo_spark.tables import Table

    loc = str(tmp_path / "t")
    t1 = _month_table(spark, loc, "r13_cross_handle")
    t1.insert(_batch(spark, 0, 500))
    t1.insert(_batch(spark, 500, 900))
    assert t1.read().count() == 900  # t1 caches handles for both rowsets
    t2 = Table.open(spark, loc)
    dropped = t2.drop_partition(t2.partitions()[0])
    assert dropped
    got = t1.read().count()  # must re-read, not probe deleted dirs
    assert 0 < got < 900


def test_partition_rollup_read_handle_cache(spark, tmp_path):
    """The rollup store-read handle is reused while no partition dir
    changed, and a refresh (os.replace of a partition dir) yields a
    fresh handle with the new aggregates."""
    from palo_spark.plans import Measure
    from palo_spark.plans.partition_rollup import PartitionRollup

    t = _month_table(spark, str(tmp_path / "t"), "r13_rollup_cache")
    t.insert(_batch(spark, 0, 500))
    r = PartitionRollup(
        t, ["d"], [Measure("sum", "v")], str(tmp_path / "store")
    )
    first = r.read()
    total0 = first.agg(F.sum("sum_v")).collect()[0][0]
    handle0 = r._read_handle
    assert handle0 is not None
    r.read()
    assert r._read_handle is handle0, "unchanged store must reuse the handle"
    t.insert(_batch(spark, 500, 900))
    total1 = r.read().agg(F.sum("sum_v")).collect()[0][0]
    assert r._read_handle is not handle0, "refresh must rebuild the handle"
    assert total1 == sum(2 * i for i in range(900))
    assert total0 == sum(2 * i for i in range(500))


# -- SQL-string expression twins (r13: py4j construction cost) ----------


def test_sql_fold_twins_bit_identical(spark):
    """_dot_sql/_qdot_sql/_vec_lit/cosine_similarity(str,str), the
    ivf_assign one-parse path and similarity_topk's one-parse score must
    be BIT-identical to the Column-built forms — they are the same
    expression tree rendered via the SQL parser instead of per-node
    py4j calls."""
    import math

    import numpy as np

    from palo_spark.operators.similarity import (
        _dot,
        _dot_sql,
        _qdot,
        _qdot_sql,
        _vec_lit,
        cosine_similarity,
        ivf_assign,
        similarity_topk,
    )

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(scale=3.0, size=16)],
         [float(x) for x in rng.normal(scale=0.5, size=16)])
        for i in range(40)
    ]
    rows.append((98, None, [0.5] * 16))          # NULL vector
    rows.append((99, [1.0] * 7, [2.0] * 7))      # wrong dimension
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )

    got = df.select(
        "id",
        F.expr(_dot_sql("`a`", "`b`")).alias("d_sql"),
        _dot(F.col("a"), F.col("b")).alias("d_col"),
        F.expr(_qdot_sql("`a`", "`b`")).alias("q_sql"),
        _qdot(F.col("a"), F.col("b")).alias("q_col"),
        cosine_similarity("a", "b", quantized=True).alias("cq_str"),
        cosine_similarity(F.col("a"), F.col("b"), quantized=True).alias("cq_col"),
        cosine_similarity("a", "b").alias("c_str"),
        cosine_similarity(F.col("a"), F.col("b")).alias("c_col"),
    ).collect()
    for r in got:
        for x, y in (
            (r["d_sql"], r["d_col"]),
            (r["cq_str"], r["cq_col"]),
            (r["c_str"], r["c_col"]),
        ):
            assert (x is None) == (y is None), r["id"]
            if x is not None:
                assert math.isnan(x) == math.isnan(y), r["id"]
                if not math.isnan(x):
                    assert x.hex() == y.hex(), (r["id"], x, y)
        assert r["q_sql"] == r["q_col"], r["id"]

    cents = [[float(x) for x in rng.normal(size=16)] for _ in range(5)]
    asg = df.select(
        "id",
        ivf_assign("a", cents).alias("cell_sql"),          # str → one-parse path
        ivf_assign(F.col("a"), cents).alias("cell_col"),   # Column → fallback
    ).collect()
    for r in asg:
        assert r["cell_sql"] == r["cell_col"], (r["id"], r["cell_sql"], r["cell_col"])

    vec = [float(x) for x in rng.normal(size=16)] + [-0.0, 1e-300, 12345.678]
    lit_rows = spark.range(1).select(
        _vec_lit(vec).alias("fast"),
        F.array(*[F.lit(float(x)) for x in vec]).alias("slow"),
    ).first()
    assert [x.hex() for x in lit_rows["fast"]] == [x.hex() for x in lit_rows["slow"]]
    # non-finite values must still work via the fallback form
    nf = spark.range(1).select(_vec_lit([1.0, float("inf")]).alias("v")).first()
    assert nf["v"][1] == float("inf")

    def _hex(x):
        return None if x is None else x.hex()

    q = [float(x) for x in rng.normal(size=16)]
    q_col = F.array(*[F.lit(x) for x in q])
    for quantized in (False, True):
        for k in (5, len(rows)):
            fast = similarity_topk(
                df, q, k, vec_col="a", id_col="id", quantized=quantized
            ).collect()
            slow = (
                df.select(
                    "id",
                    cosine_similarity(F.col("a"), q_col, quantized=quantized).alias("score"),
                )
                .orderBy(F.desc("score"), F.col("id"))
                .limit(k)
                .collect()
            )
            assert [(r["id"], _hex(r["score"])) for r in fast] == [
                (r["id"], _hex(r["score"])) for r in slow
            ], (quantized, k)
    # a non-finite query has no literal text: the Column fallback runs
    nf_top = similarity_topk(df, [float("nan")] + q[1:], 3, vec_col="a", id_col="id").collect()
    assert len(nf_top) == 3


def test_band_hash_sql_twin_bit_identical(spark):
    """_band_hash's one-parse SQL form must equal the Column-built form
    exactly (band ids and xxhash64 bucket hashes)."""
    from palo_spark.operators.dedup import _band_hash

    df = spark.range(50).select(
        "id",
        F.expr(
            "transform(sequence(1, 64), i -> xxhash64(id * i))"
        ).alias("sig"),
    )
    got = df.select(
        "id",
        _band_hash("sig", 16, 4).alias("fast"),
        _band_hash(F.col("sig"), 16, 4).alias("slow"),
    ).collect()
    for r in got:
        assert [tuple(x) for x in r["fast"]] == [tuple(x) for x in r["slow"]]


def test_udf_registration_memo_survives_two_live_sessions(spark):
    """ADVICE r12 #5: the UDF-registration memos must keep one slot PER
    live session (WeakKeyDictionary), not a single cleared slot — two
    concurrently alive sessions alternating PaloSession construction
    must each register exactly once (no thrash re-paying the py4j
    round-trips the memo exists to avoid)."""
    from palo_spark.functions import (
        _SQL_UDFS_REGISTERED,
        register_sql_udfs,
    )

    other = spark.newSession()  # distinct session object, same JVM
    try:
        register_sql_udfs(spark)
        register_sql_udfs(other)
        assert _SQL_UDFS_REGISTERED.get(spark)
        assert _SQL_UDFS_REGISTERED.get(other)  # first slot NOT evicted
        # alternating re-attach: both memo hits, no re-registration work
        register_sql_udfs(spark)
        register_sql_udfs(other)
        assert len([k for k in (spark, other) if _SQL_UDFS_REGISTERED.get(k)]) == 2
    finally:
        _SQL_UDFS_REGISTERED.pop(other, None)


def test_hot_label_salted_write_bounds_files_per_label(spark, tmp_path):
    """VERDICT r12 what's-wrong #3: with
    palo_spark.write.hotLabelRowThreshold set, a label exceeding the
    threshold spreads over ceil(rows/threshold) salt buckets (parallel
    writers, bounded files-per-label) while cold labels keep the
    one-file-per-label layout; rows survive bit-for-bit."""
    import os

    from palo_spark.tables import AUTO_PART_COL, HOT_LABEL_THRESHOLD_CONF, Table

    # 9,200 rows in month 2024-01 (hot), ~200 in each of 2024-02/03
    df = spark.range(0, 9600).select(
        F.col("id").alias("k"),
        F.expr(
            "CASE WHEN id < 9200 THEN date'2024-01-15' "
            "WHEN id < 9400 THEN date'2024-02-15' "
            "ELSE date'2024-03-15' END"
        ).alias("d"),
        (F.col("id") * 3).alias("v"),
    ).repartition(8)
    t = Table(
        spark,
        "r13_opt_hot_label_salt",
        keys_type="DUPLICATE",
        key_cols=["k"],
        auto_partition=("d", "month"),
        location=str(tmp_path / "t"),
    )
    spark.conf.set(HOT_LABEL_THRESHOLD_CONF, "2000")
    try:
        t.insert(df)
    finally:
        spark.conf.unset(HOT_LABEL_THRESHOLD_CONF)
    rowset = t.meta.rowsets[-1]["path"]
    files_of = {}
    for lbl in os.listdir(rowset):
        if not lbl.startswith(f"{AUTO_PART_COL}="):
            continue
        files_of[lbl.split("=", 1)[1]] = [
            f
            for f in os.listdir(os.path.join(rowset, lbl))
            if f.endswith(".parquet")
        ]
    # hot label: parallel writers, bounded by k = ceil(9200/2000) = 5
    assert 2 <= len(files_of["m2024-01"]) <= 5, files_of["m2024-01"]
    # cold labels: unchanged single-file layout (k=1 → pmod(hash,1)=0)
    assert len(files_of["m2024-02"]) == 1
    assert len(files_of["m2024-03"]) == 1
    got = sorted((r.k, r.v) for r in t.read().select("k", "v").collect())
    assert got == [(i, i * 3) for i in range(9600)]


def test_unsalted_write_runs_no_count_job(spark, tmp_path):
    """Threshold unset (the default): _label_salted_exprs must return
    the plain label exprs WITHOUT an extra aggregation pass over the
    load — the bench layout and cost are byte-identical to r12."""
    from palo_spark.tables import Table

    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.expr("date_add(date'2024-01-01', cast(id % 60 as int))").alias("d"),
    )
    t = Table(
        spark,
        "r13_opt_no_salt_default",
        keys_type="DUPLICATE",
        key_cols=["k"],
        auto_partition=("d", "month"),
        location=str(tmp_path / "t"),
    )
    n_salt, exprs = t._label_salted_exprs(
        df.withColumn("_auto_part", F.lit("x")), ["_auto_part"]
    )
    assert n_salt is None  # AQE-coalescible label shuffle, as in r12
    assert len(exprs) == 1  # no salt column appended, no count job ran
