"""PaloSession: Doris SQL text DDL + DML + query in one surface."""

import pytest

from palo_spark.palo_session import PaloSession


@pytest.fixture
def ps(spark, tmp_path):
    return PaloSession(spark, location_root=str(tmp_path))


def test_create_aggregate_table_and_merge(ps):
    t = ps.sql(
        """CREATE TABLE sv (`site_id` INT, `city` VARCHAR(20), `pv` BIGINT SUM,
           `best` DOUBLE MAX) AGGREGATE KEY(site_id, city)
           DISTRIBUTED BY HASH(site_id) BUCKETS 8
           PROPERTIES ("replication_num" = "1")"""
    )
    assert t.meta.keys_type == "AGGREGATE"
    assert t.meta.agg_spec == {"pv": "SUM", "best": "MAX"}
    ps.sql("INSERT INTO sv VALUES (1,'bj',10,1.5), (1,'bj',5,9.9), (2,'sh',7,2.0)")
    rows = {(r["site_id"], r["city"]): (r["pv"], r["best"]) for r in ps.sql("SELECT * FROM sv").collect()}
    assert rows == {(1, "bj"): (15, 9.9), (2, "sh"): (7, 2.0)}


def test_unique_key_upsert_through_sql(ps):
    ps.sql(
        "CREATE TABLE u (`uid` BIGINT, `name` VARCHAR(10)) UNIQUE KEY(uid) "
        "DISTRIBUTED BY HASH(uid) BUCKETS 4"
    )
    ps.sql("INSERT INTO u VALUES (1,'a'),(2,'b')")
    ps.sql("INSERT INTO u VALUES (2,'b2')")
    got = sorted((r["uid"], r["name"]) for r in ps.sql("SELECT * FROM u").collect())
    assert got == [(1, "a"), (2, "b2")]


def test_insert_select_positional_mapping(ps):
    ps.sql(
        "CREATE TABLE d (`k` INT, `s` VARCHAR(5)) DUPLICATE KEY(k) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    # dialect function + positional mapping + cast (int literal -> INT)
    ps.sql("INSERT INTO d SELECT 7, lcase('XY')")
    got = [(r["k"], r["s"]) for r in ps.sql("SELECT k, s FROM d").collect()]
    assert got == [(7, "xy")]


def test_insert_arity_mismatch_raises(ps):
    ps.sql(
        "CREATE TABLE a2 (`k` INT, `s` VARCHAR(5)) DUPLICATE KEY(k) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    with pytest.raises(Exception, match="arity|columns"):
        ps.sql("INSERT INTO a2 VALUES (1)")


def test_drop_table(ps):
    ps.sql("CREATE TABLE g (`k` INT) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("DROP TABLE g")
    assert "g" not in ps.tables
    ps.sql("DROP TABLE IF EXISTS g")  # idempotent
    with pytest.raises(ValueError, match="unknown"):
        ps.sql("DROP TABLE g")


def test_query_goes_through_dialect_front_end(ps):
    ps.sql("CREATE TABLE q (`k` INT, `d` DATETIME) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO q VALUES (1, '2020-03-04 05:06:07')")
    r = ps.sql("SELECT date_format(`d`, '%Y-%m') AS ym FROM q WHERE k = 1 || k = 99").collect()
    assert [x["ym"] for x in r] == ["2020-03"]


def test_rollup_integration_answers_from_mv(spark, tmp_path):
    from pyspark.sql import Row
    from palo_spark.plans import Measure, RollupCatalog

    base = spark.createDataFrame(
        [Row(g="a", v=1), Row(g="a", v=2), Row(g="b", v=3)]
    )
    rc = RollupCatalog(spark, root=str(tmp_path / "r"))
    rc.register_base("base_t", base)
    rc.add_rollup("r1", "base_t", ["g"], [Measure("sum", "v")])
    base.createOrReplaceTempView("base_t")
    ps = PaloSession(spark, location_root=str(tmp_path), rollups=rc)
    df, source = rc.sql("SELECT g, SUM(v) AS sum_v FROM base_t GROUP BY g")
    assert source == "r1"  # the MV really covers it
    got = {r["g"]: r["sum_v"] for r in ps.sql("SELECT g, SUM(v) AS sum_v FROM base_t GROUP BY g").collect()}
    assert got == {"a": 3, "b": 3}


def test_update_unique_table(ps):
    ps.sql("CREATE TABLE uu (`uid` BIGINT, `name` VARCHAR(10), `score` INT) UNIQUE KEY(uid) DISTRIBUTED BY HASH(uid) BUCKETS 2")
    ps.sql("INSERT INTO uu VALUES (1,'a',10),(2,'b',20),(3,'c',30)")
    ps.sql("UPDATE uu SET score = score + 5, name = ucase(name) WHERE uid <= 2")
    got = sorted((r["uid"], r["name"], r["score"]) for r in ps.sql("SELECT * FROM uu").collect())
    assert got == [(1, "A", 15), (2, "B", 25), (3, "c", 30)]
    import pytest
    with pytest.raises(ValueError, match="key column"):
        ps.sql("UPDATE uu SET uid = 9 WHERE uid = 1")


def test_update_requires_unique_model(ps):
    import pytest
    ps.sql("CREATE TABLE dupt (`k` INT, `v` INT) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO dupt VALUES (1, 2)")
    with pytest.raises(ValueError, match="UNIQUE"):
        ps.sql("UPDATE dupt SET v = 3 WHERE k = 1")


def test_delete_where_through_sql(ps):
    ps.sql("CREATE TABLE dd (`k` INT, `v` VARCHAR(5)) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO dd VALUES (1,'a'),(2,'b'),(3,'c')")
    ps.sql("DELETE FROM dd WHERE k = 2 || k = 99")
    got = sorted(r["k"] for r in ps.sql("SELECT k FROM dd").collect())
    assert got == [1, 3]
    # rows loaded AFTER the delete are unaffected (Doris delete-version)
    ps.sql("INSERT INTO dd VALUES (2,'b2')")
    got = sorted(r["k"] for r in ps.sql("SELECT k FROM dd").collect())
    assert got == [1, 2, 3]


def test_alter_add_column_and_desc(ps):
    ps.sql("CREATE TABLE ac (`k` INT, `v` INT) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO ac VALUES (1, 10)")
    ps.sql("ALTER TABLE ac ADD COLUMN note VARCHAR(20) DEFAULT 'none'")
    ps.sql("INSERT INTO ac VALUES (2, 20, 'hi')")
    got = {r["k"]: r["note"] for r in ps.sql("SELECT k, `note` FROM ac").collect()}
    assert got == {1: "none", 2: "hi"}
    desc = {r["field"]: (r["type"], r["is_key"]) for r in ps.sql("DESC ac").collect()}
    assert desc["k"] == ("int", True) and desc["note"][0] == "string"


def test_show_tables(ps):
    ps.sql("CREATE TABLE t1 (`k` INT) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("CREATE TABLE t2 (`k` INT) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    names = [r["table_name"] for r in ps.sql("SHOW TABLES").collect()]
    assert names == ["t1", "t2"]


def test_auto_partition_ddl_through_sql(ps):
    t = ps.sql(
        """
        CREATE TABLE pev (
            id BIGINT,
            ts DATETIME,
            v DOUBLE
        )
        DUPLICATE KEY(`id`)
        AUTO PARTITION BY RANGE (date_trunc(`ts`, 'day')) ()
        DISTRIBUTED BY HASH(id) BUCKETS 8
        """
    )
    assert t.meta.auto_partition == {"col": "ts", "granularity": "day"}
    ps.sql(
        "INSERT INTO pev VALUES "
        "(1, '2024-03-01 10:00:00', 1.5), "
        "(2, '2024-03-02 11:00:00', 2.5), "
        "(3, '2024-03-03 12:00:00', 3.5)"
    )
    assert t.partitions() == ["d2024-03-01", "d2024-03-02", "d2024-03-03"]
    out = t.scan("ts >= '2024-03-03'").collect()
    assert [r["id"] for r in out] == [3]


def test_alter_drop_rename_and_partitions_sql(ps):
    ps.sql(
        """
        CREATE TABLE lake (
            id BIGINT,
            ts DATETIME,
            v DOUBLE,
            note VARCHAR(64)
        )
        DUPLICATE KEY(`id`)
        AUTO PARTITION BY RANGE (date_trunc(`ts`, 'day')) ()
        """
    )
    ps.sql(
        "INSERT INTO lake VALUES (1,'2024-05-01 01:00:00',1.0,'a'),"
        "(2,'2024-05-02 01:00:00',2.0,'b')"
    )
    parts = [r["partition_name"] for r in ps.sql("SHOW PARTITIONS FROM lake").collect()]
    assert parts == ["d2024-05-01", "d2024-05-02"]
    ps.sql("ALTER TABLE lake RENAME COLUMN note comment_")
    ps.sql("ALTER TABLE lake DROP COLUMN v")
    cols = [r["field"] for r in ps.sql("DESC lake").collect()]
    assert cols == ["id", "ts", "comment_"]
    out = ps.sql("SELECT id, comment_ FROM lake ORDER BY id").collect()
    assert [(r["id"], r["comment_"]) for r in out] == [(1, "a"), (2, "b")]
    ps.sql("ALTER TABLE lake DROP PARTITION d2024-05-01")
    assert [r["id"] for r in ps.sql("SELECT id FROM lake").collect()] == [2]


def test_create_materialized_view_sql(ps):
    ps.sql(
        """
        CREATE TABLE sales (
            day_key INT,
            region VARCHAR(16),
            amount DOUBLE
        ) DUPLICATE KEY(day_key)
        """
    )
    ps.sql(
        "INSERT INTO sales VALUES (1,'east',10.5),(1,'west',2.0),"
        "(2,'east',4.25),(2,'east',1.0)"
    )
    ps.sql(
        "CREATE MATERIALIZED VIEW sales_by_region AS "
        "SELECT region, SUM(amount) AS total, COUNT(*) AS n "
        "FROM sales GROUP BY region"
    )
    # query is transparently answered from the MV
    df, source = ps.rollups.sql(
        "SELECT region, SUM(amount) AS total FROM sales GROUP BY region"
    )
    assert source == "sales_by_region"
    got = {r["region"]: r["total"] for r in df.collect()}
    assert got == {"east": 15.75, "west": 2.0}
    # MV is maintained on later loads (apply_delta, base not re-scanned)
    ps.sql("INSERT INTO sales VALUES (3,'west',7.5)")
    got2 = {
        r["region"]: r["total"]
        for r in ps.sql(
            "SELECT region, SUM(amount) AS total FROM sales GROUP BY region"
        ).collect()
    }
    assert got2 == {"east": 15.75, "west": 9.5}


def test_select_into_outfile(ps, tmp_path):
    ps.sql("CREATE TABLE exp_t (k INT, v DOUBLE) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO exp_t VALUES (1,1.5),(2,2.5)")
    out = str(tmp_path / "outfile_parquet")
    ret = ps.sql(f"SELECT k, v FROM exp_t INTO OUTFILE '{out}' FORMAT AS PARQUET")
    assert ret == out
    back = ps.spark.read.parquet(out)
    assert {(r["k"], r["v"]) for r in back.collect()} == {(1, 1.5), (2, 2.5)}
    csv_out = str(tmp_path / "outfile_csv")
    ps.sql(f"SELECT k FROM exp_t INTO OUTFILE '{csv_out}' FORMAT AS CSV")
    assert ps.spark.read.option("header", True).csv(csv_out).count() == 2
    # Doris semantics: refuses to overwrite an existing outfile target
    import pytest as _pt
    with _pt.raises(Exception):
        ps.sql(f"SELECT k FROM exp_t INTO OUTFILE '{out}'")


def test_ctas_truncate_show_create(ps, tmp_path):
    ps.sql("CREATE TABLE src_t (k INT, v DOUBLE) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO src_t VALUES (1,1.0),(2,2.0),(3,3.0)")
    t = ps.sql("CREATE TABLE ctas_t AS SELECT k, v * 10 AS v10 FROM src_t")
    assert sorted(r["v10"] for r in ps.sql("SELECT v10 FROM ctas_t").collect()) == [
        10.0, 20.0, 30.0,
    ]
    ddl = ps.sql("SHOW CREATE TABLE src_t").first()["create_table"]
    assert "CREATE TABLE `src_t`" in ddl and "DUPLICATE KEY(`k`)" in ddl
    ps.sql("TRUNCATE TABLE src_t")
    assert ps.sql("SELECT * FROM src_t").count() == 0  # empty, still queryable
    ps.sql("INSERT INTO src_t VALUES (9,9.0)")
    assert [r["k"] for r in ps.sql("SELECT k FROM src_t").collect()] == [9]


def test_load_label_statement(ps, spark, tmp_path):
    src = str(tmp_path / "incoming.parquet")
    spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", -1.0), (3, "c", 7.0)], "k long, s string, v double"
    ).write.parquet(src)
    ps.sql("CREATE TABLE landed (k BIGINT, s VARCHAR(8), v DOUBLE) DUPLICATE KEY(k)")
    v1 = ps.sql(
        f"LOAD LABEL batch-1 (DATA INFILE('{src}') INTO TABLE landed "
        "FORMAT AS 'parquet' WHERE v > 0)"
    )
    assert v1 == 1
    assert sorted(r["k"] for r in ps.sql("SELECT k FROM landed").collect()) == [1, 3]
    # same label replays as a no-op (Doris label ledger)
    v2 = ps.sql(
        f"LOAD LABEL batch-1 (DATA INFILE('{src}') INTO TABLE landed)"
    )
    assert v2 == -1
    assert ps.sql("SELECT k FROM landed").count() == 2


def test_explain_statement(ps):
    ps.sql("CREATE TABLE ex_t (k INT, v DOUBLE) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO ex_t VALUES (1,1.0)")
    rows = [r["plan"] for r in ps.sql("EXPLAIN SELECT k, SUM(v) FROM ex_t GROUP BY k").collect()]
    text = "\n".join(rows)
    assert "HashAggregate" in text and "Physical Plan" in text


def test_partition_selection_syntax(ps):
    ps.sql(
        """
        CREATE TABLE psel (id BIGINT, ts DATETIME, v DOUBLE)
        DUPLICATE KEY(`id`)
        AUTO PARTITION BY RANGE (date_trunc(`ts`, 'day')) ()
        """
    )
    ps.sql(
        "INSERT INTO psel VALUES (1,'2024-06-01 01:00:00',1.0),"
        "(2,'2024-06-02 01:00:00',2.0),(3,'2024-06-03 01:00:00',3.0)"
    )
    out = ps.sql(
        "SELECT id FROM psel PARTITION (d2024-06-01, d2024-06-03) ORDER BY id"
    ).collect()
    assert [r["id"] for r in out] == [1, 3]
    import pytest as _pt
    with _pt.raises(ValueError, match="unknown partitions"):
        ps.sql("SELECT id FROM psel PARTITION (d1999-01-01)")
    with _pt.raises(ValueError, match="partitioned"):
        ps.sql("CREATE TABLE nop (k INT) DUPLICATE KEY(k)")
        ps.sql("INSERT INTO nop VALUES (1)")
        ps.sql("SELECT k FROM nop PARTITION (x)")


def test_result_cache_hit_and_invalidate(spark, tmp_path):
    ps = PaloSession(spark, location_root=str(tmp_path), result_cache=True)
    ps.sql("CREATE TABLE rc (k INT, v DOUBLE) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO rc VALUES (1,1.0),(2,2.0)")
    q = "SELECT k, SUM(v) AS s FROM rc GROUP BY k ORDER BY k"
    r1 = ps.sql(q).collect()
    assert ps.last_cache_hit is False
    r2 = ps.sql(q).collect()
    assert ps.last_cache_hit is True and r2 == r1
    # any mutation invalidates by token change
    ps.sql("INSERT INTO rc VALUES (1,10.0)")
    r3 = ps.sql(q).collect()
    assert ps.last_cache_hit is False
    assert {r["k"]: r["s"] for r in r3}[1] == 11.0
    # and the new state is itself cached
    ps.sql(q)
    assert ps.last_cache_hit is True
    # different query text = different key
    ps.sql("SELECT COUNT(*) AS n FROM rc")
    assert ps.last_cache_hit is False


def test_result_cache_row_limit_bypass(spark, tmp_path):
    # 3 rows: never stored above the limit (limit + 1 = 3 is the
    # boundary), stored at a limit of exactly 3; every row returned
    for limit, cached in ((1, False), (2, False), (3, True)):
        ps = PaloSession(
            spark, location_root=str(tmp_path / str(limit)), result_cache=True,
            cache_row_limit=limit,
        )
        ps.sql("CREATE TABLE rc2 (k INT) DUPLICATE KEY(k)")
        ps.sql("INSERT INTO rc2 VALUES (1),(2),(3)")
        q = "SELECT k FROM rc2"
        assert sorted(r["k"] for r in ps.sql(q).collect()) == [1, 2, 3]
        out = ps.sql(q).collect()
        assert ps.last_cache_hit is cached, limit
        assert sorted(r["k"] for r in out) == [1, 2, 3]


def test_result_cache_evicts_least_recently_used(spark, tmp_path):
    ps = PaloSession(
        spark, location_root=str(tmp_path), result_cache=True, cache_entries=2
    )
    ps.sql("CREATE TABLE lru (k INT) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO lru VALUES (1),(2)")
    a, b, c = (f"SELECT {e} AS x FROM lru" for e in ("MIN(k)", "MAX(k)", "COUNT(*)"))
    for q in (a, b):
        ps.sql(q)
        assert ps.last_cache_hit is False
    assert ps.sql(a).collect()[0]["x"] == 1 and ps.last_cache_hit is True
    ps.sql(c)  # evicts B, the least recently used, not A
    assert ps.sql(a).collect()[0]["x"] == 1 and ps.last_cache_hit is True
    ps.sql(b)
    assert ps.last_cache_hit is False


def test_result_cache_concurrent_hits_and_evictions(spark, tmp_path):
    import sys
    import threading

    ps = PaloSession(
        spark, location_root=str(tmp_path), result_cache=True, cache_entries=2
    )
    ps.sql("CREATE TABLE lrt (k INT) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO lrt VALUES (1),(2),(3)")
    want = {f"SELECT COUNT(*) + {i} AS x FROM lrt": 3 + i for i in range(3)}
    texts = list(want)
    errors: list = []

    def client(w: int) -> None:
        try:
            for j in range(12):
                q = texts[(w + j // 3) % len(texts)]  # runs of 3: hits
                got = ps.sql(q).collect()[0]["x"]
                if got != want[q]:
                    errors.append((q, got))
        except Exception as e:  # noqa: BLE001 - reported by the assert
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        workers = [threading.Thread(target=client, args=(w,)) for w in range(6)]
        for t in workers:
            t.start()
        for t in workers:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in workers)
    assert errors == []
    assert len(ps._result_cache) <= 2


def _jobs_run_by(spark, action) -> int:
    """Spark jobs that ``action()`` launches, read from the status
    tracker. A marker job in a later group is awaited first: the listener
    records job starts in order, so once the marker shows, so do the
    action's jobs."""
    import time
    import uuid

    sc = spark.sparkContext
    group, marker = f"probe-{uuid.uuid4()}", f"marker-{uuid.uuid4()}"
    try:
        sc.setJobGroup(group, group)
        action()
        sc.setJobGroup(marker, marker)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not st.getJobIdsForGroup(marker) and time.monotonic() < deadline:
        time.sleep(0.05)
    return len(st.getJobIdsForGroup(group))


def test_result_cache_frames_collect_without_a_job(spark, tmp_path):
    ps = PaloSession(spark, location_root=str(tmp_path), result_cache=True)
    ps.sql("CREATE TABLE rj (k INT, v DOUBLE) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO rj VALUES (1,1.0),(2,2.0),(1,3.0)")
    q = "SELECT k, SUM(v) AS s FROM rj GROUP BY k ORDER BY k"
    want = [(1, 4.0), (2, 2.0)]
    stored = ps.sql(q)  # the miss runs its jobs here, inside sql()
    assert ps.last_cache_hit is False
    got = []
    assert _jobs_run_by(spark, lambda: got.extend(stored.collect())) == 0
    assert [tuple(r) for r in got] == want
    hit = ps.sql(q)
    assert ps.last_cache_hit is True
    got.clear()
    assert _jobs_run_by(spark, lambda: got.extend(hit.collect())) == 0
    assert [tuple(r) for r in got] == want


@pytest.mark.parametrize("q", [
    "SELECT k, c, v FROM cv ORDER BY k",
    "SELECT CAST('12.345' AS DECIMAL(10,3)) AS d, DATE '2020-02-29' AS dt, "
    "CAST('2020-01-02 03:04:05.123456' AS DATETIME) AS ts, "
    "TIMESTAMP_NTZ '2021-05-06 07:08:09' AS ntz, CAST(NULL AS INT) AS n",
    "SELECT array(1, NULL, 3) AS a, map('x', 1, 'y', NULL) AS m, "
    "named_struct('p', 1, 'q', 'z') AS st, X'00FF10' AS b",
    "SELECT parse_json('{\"a\": [1, 2.5, null], \"b\": \"s\"}') AS va",
    "SELECT INTERVAL '1 02:03:04.5' DAY TO SECOND AS iv",
    "SELECT CAST('NaN' AS DOUBLE) AS nan, CAST('Infinity' AS DOUBLE) AS pinf, "
    "CAST('-Infinity' AS DOUBLE) AS ninf, CAST('-0.0' AS DOUBLE) AS nz",
])
def test_result_cache_hit_keeps_types(spark, tmp_path, q):
    ps = PaloSession(spark, location_root=str(tmp_path), result_cache=True)
    ps.sql("CREATE TABLE cv (k INT, c CHAR(4), v VARCHAR(8)) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO cv VALUES (1,'ab','xyz'),(2,NULL,'')")
    ps.result_cache_enabled = False
    plain = ps.sql(q)
    want_rows, want_schema = plain.collect(), plain.schema
    ps.result_cache_enabled = True
    ps.sql(q)
    assert ps.last_cache_hit is False
    hit = ps.sql(q)
    assert ps.last_cache_hit is True
    assert hit.schema == want_schema
    # repr, not ==: VariantVal has no ==, NaN != NaN, and -0.0 == 0.0
    assert repr(hit.collect()) == repr(want_rows)


def test_truncate_reload_cannot_serve_stale_cache(spark, tmp_path):
    ps = PaloSession(spark, location_root=str(tmp_path), result_cache=True)
    ps.sql("CREATE TABLE rc3 (k INT, v DOUBLE) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO rc3 VALUES (1,1.0)")
    q = "SELECT SUM(v) AS s FROM rc3"
    assert ps.sql(q).collect()[0]["s"] == 1.0
    ps.sql("TRUNCATE TABLE rc3")
    ps.sql("INSERT INTO rc3 VALUES (1,99.0)")
    out = ps.sql(q).collect()
    assert ps.last_cache_hit is False and out[0]["s"] == 99.0


def test_analyze_table_and_show_column_stats(ps):
    ps.sql("CREATE TABLE st (k INT, v DOUBLE, s VARCHAR(8)) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO st VALUES (1,1.5,'a'),(2,2.5,'b'),(3,NULL,'a')")
    import pytest as _pt
    with _pt.raises(ValueError, match="ANALYZE TABLE first"):
        ps.sql("SHOW COLUMN STATS st")
    ps.sql("ANALYZE TABLE st")
    stats = {r["column_name"]: r for r in ps.sql("SHOW COLUMN STATS st").collect()}
    assert stats["k"]["count"] == 3 and stats["k"]["ndv"] == 3
    assert stats["k"]["min"] == "1" and stats["k"]["max"] == "3"
    assert stats["v"]["count"] == 2 and stats["v"]["num_nulls"] == 1
    assert stats["s"]["ndv"] == 2


def test_mv_management_statements(ps):
    ps.sql("CREATE TABLE mvt (k INT, g VARCHAR(4), v DOUBLE) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO mvt VALUES (1,'a',1.0),(2,'b',2.0)")
    ps.sql(
        "CREATE MATERIALIZED VIEW mv_g AS "
        "SELECT g, SUM(v) AS s FROM mvt GROUP BY g"
    )
    mvs = ps.sql("SHOW MATERIALIZED VIEWS").collect()
    assert [(r["mv_name"], r["base_table"]) for r in mvs] == [("mv_g", "mvt")]
    ps.sql("REFRESH MATERIALIZED VIEW mv_g")
    got = {r["g"]: r["s"] for r in ps.sql("SELECT g, SUM(v) AS s FROM mvt GROUP BY g").collect()}
    assert got == {"a": 1.0, "b": 2.0}
    ps.sql("DROP MATERIALIZED VIEW mv_g")
    assert ps.sql("SHOW MATERIALIZED VIEWS").count() == 0
    import pytest as _pt
    with _pt.raises(ValueError, match="unknown materialized view"):
        ps.sql("DROP MATERIALIZED VIEW mv_g")


def test_two_mvs_on_one_base_no_double_delta(ps):
    ps.sql("CREATE TABLE dd (k INT, g VARCHAR(4), v DOUBLE) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO dd VALUES (1,'a',1.0)")
    ps.sql("CREATE MATERIALIZED VIEW dd_mv1 AS SELECT g, SUM(v) AS s FROM dd GROUP BY g")
    ps.sql("CREATE MATERIALIZED VIEW dd_mv2 AS SELECT g, COUNT(*) AS n FROM dd GROUP BY g")
    ps.sql("INSERT INTO dd VALUES (2,'a',10.0)")
    df1, src1 = ps.rollups.sql("SELECT g, SUM(v) AS s FROM dd GROUP BY g")
    assert src1 == "dd_mv1"
    assert {r["g"]: r["s"] for r in df1.collect()} == {"a": 11.0}  # not 21.0
    df2, src2 = ps.rollups.sql("SELECT g, COUNT(*) AS n FROM dd GROUP BY g")
    assert src2 == "dd_mv2"
    assert {r["g"]: r["n"] for r in df2.collect()} == {"a": 2}  # not 3


def test_cache_with_partition_selection_not_stale(spark, tmp_path):
    ps = PaloSession(spark, location_root=str(tmp_path), result_cache=True)
    ps.sql(
        """CREATE TABLE pcs (id BIGINT, ts DATETIME, v DOUBLE)
           DUPLICATE KEY(`id`)
           AUTO PARTITION BY RANGE (date_trunc(`ts`, 'day')) ()"""
    )
    ps.sql("INSERT INTO pcs VALUES (1,'2024-08-01 01:00:00',1.0)")
    q = "SELECT SUM(v) AS s FROM pcs PARTITION (d2024-08-01)"
    assert ps.sql(q).collect()[0]["s"] == 1.0
    ps.sql(q)
    assert ps.last_cache_hit is True
    ps.sql("INSERT INTO pcs VALUES (2,'2024-08-01 02:00:00',10.0)")
    out = ps.sql(q).collect()
    assert ps.last_cache_hit is False and out[0]["s"] == 11.0


def test_delete_partition_and_insert_overwrite(ps, spark):
    ps.sql(
        """CREATE TABLE dp (id BIGINT, ts DATETIME, v DOUBLE)
           DUPLICATE KEY(`id`)
           AUTO PARTITION BY RANGE (date_trunc(`ts`, 'day')) ()
           DISTRIBUTED BY HASH(id) BUCKETS 4"""
    )
    ps.sql(
        "INSERT INTO dp VALUES (1,'2024-09-01 01:00:00',1.0),"
        "(2,'2024-09-01 02:00:00',5.0),(3,'2024-09-02 01:00:00',5.0)"
    )
    # partition-scoped delete: v=5 row in day 2 survives
    ps.sql("DELETE FROM dp PARTITION (d2024-09-01) WHERE v = 5.0")
    got = sorted(r["id"] for r in ps.sql("SELECT id FROM dp").collect())
    assert got == [1, 3]
    # non-partitioned table refuses partition-scoped delete
    ps.sql("CREATE TABLE dp2 (k INT) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO dp2 VALUES (1)")
    import pytest as _pt
    with _pt.raises(ValueError, match="partitioned"):
        ps.sql("DELETE FROM dp2 PARTITION (x) WHERE k = 1")
    # INSERT OVERWRITE replaces the whole table content
    ps.sql("INSERT OVERWRITE TABLE dp VALUES (9,'2024-09-09 00:00:00',9.0)")
    rows = ps.sql("SELECT id, v FROM dp").collect()
    assert [(r["id"], r["v"]) for r in rows] == [(9, 9.0)]
    # bucketed writes: table meta carries the distribution
    t = ps.tables["dp"]
    assert t.meta.dist_cols == ["id"] and t.meta.buckets == 4


def test_show_load_and_show_delete(ps, spark, tmp_path):
    ps.sql("CREATE TABLE sl (k INT, v DOUBLE) DUPLICATE KEY(k)")
    src = str(tmp_path / "sl_in.parquet")
    spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double").write.parquet(src)
    ps.sql(f"LOAD LABEL lbl-a (DATA INFILE('{src}') INTO TABLE sl)")
    ps.sql("INSERT INTO sl VALUES (3, 3.0)")
    loads = ps.sql("SHOW LOAD FROM sl").collect()
    assert [(r["version"], r["label"]) for r in loads] == [(1, "lbl-a"), (2, "")]
    ps.sql("DELETE FROM sl WHERE v > 2.5")
    dels = ps.sql("SHOW DELETE FROM sl").collect()
    assert len(dels) == 1 and "2.5" in dels[0]["predicate"]


def test_script_and_csv_load(ps, spark, tmp_path):
    csv_dir = str(tmp_path / "in_csv")
    spark.createDataFrame(
        [(1, "x", 2.5), (2, "y", 3.5)], "k long, s string, v double"
    ).write.option("header", True).csv(csv_dir)
    results = ps.script(
        f"""
        CREATE TABLE sc_t (k BIGINT, s VARCHAR(8), v DOUBLE) DUPLICATE KEY(k);
        LOAD LABEL csv-1 (DATA INFILE('{csv_dir}') INTO TABLE sc_t FORMAT AS 'csv');
        INSERT INTO sc_t VALUES (3, 'z;semi', 4.5);
        SELECT k, s, v FROM sc_t ORDER BY k
        """
    )
    rows = results[-1].collect()
    assert [(r["k"], r["s"], r["v"]) for r in rows] == [
        (1, "x", 2.5), (2, "y", 3.5), (3, "z;semi", 4.5),
    ]


def test_export_table_statement(ps, spark, tmp_path):
    ps.sql(
        """CREATE TABLE ex_p (id BIGINT, ts DATETIME, v DOUBLE)
           DUPLICATE KEY(`id`)
           AUTO PARTITION BY RANGE (date_trunc(`ts`, 'day')) ()"""
    )
    ps.sql(
        "INSERT INTO ex_p VALUES (1,'2024-10-01 01:00:00',1.0),"
        "(2,'2024-10-02 01:00:00',2.0)"
    )
    out = str(tmp_path / "exp_all")
    ps.sql(f"EXPORT TABLE ex_p TO '{out}'")
    assert spark.read.parquet(out).count() == 2
    pout = str(tmp_path / "exp_p1")
    ps.sql(f"EXPORT TABLE ex_p PARTITION (d2024-10-01) TO '{pout}' FORMAT AS 'csv'")
    back = spark.read.option("header", True).csv(pout)
    assert [r["id"] for r in back.collect()] == ["1"]


def test_alter_modify_column_sql(ps):
    ps.sql("CREATE TABLE mc (k INT, v INT) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO mc VALUES (1, 7)")
    ps.sql("ALTER TABLE mc MODIFY COLUMN v BIGINT")
    cols = {r["field"]: r["type"] for r in ps.sql("DESC mc").collect()}
    assert cols["v"] == "bigint"
    assert ps.sql("SELECT v FROM mc").first()["v"] == 7


def test_insert_overwrite_can_read_its_own_target(ps):
    ps.sql("CREATE TABLE iow (k INT, v DOUBLE) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO iow VALUES (1,1.0),(2,2.0),(3,3.0)")
    # self-referencing overwrite: keep only rows with v >= 2, doubled
    ps.sql("INSERT OVERWRITE TABLE iow SELECT k, v * 2 FROM iow WHERE v >= 2.0")
    rows = sorted((r["k"], r["v"]) for r in ps.sql("SELECT k, v FROM iow").collect())
    assert rows == [(2, 4.0), (3, 6.0)]


def test_create_view_late_binding(ps):
    """Logical views re-resolve per query (Doris semantics): inserts
    into the base table are visible through an existing view."""
    ps.sql("CREATE TABLE vt (k INT, v BIGINT SUM) AGGREGATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO vt VALUES (1, 10), (2, 20)")
    ps.sql("CREATE VIEW v_tot AS SELECT CAST(SUM(v) AS SIGNED) AS tot FROM vt")
    assert ps.sql("SELECT tot FROM v_tot").collect()[0]["tot"] == 30
    ps.sql("INSERT INTO vt VALUES (1, 5)")
    assert ps.sql("SELECT tot FROM v_tot").collect()[0]["tot"] == 35
    # ALTER VIEW replaces the definition
    ps.sql("ALTER VIEW v_tot AS SELECT CAST(COUNT(*) AS SIGNED) AS tot FROM vt")
    assert ps.sql("SELECT tot FROM v_tot").collect()[0]["tot"] == 2
    # IF NOT EXISTS is a no-op on an existing view
    ps.sql("CREATE VIEW IF NOT EXISTS v_tot AS SELECT 1 AS tot")
    assert ps.sql("SELECT tot FROM v_tot").collect()[0]["tot"] == 2
    ps.sql("DROP VIEW v_tot")
    with pytest.raises(Exception):
        ps.sql("SELECT * FROM v_tot").collect()
    ps.sql("DROP VIEW IF EXISTS v_tot")  # tolerated


def test_inverted_index_ddl_and_match_routing(spark, sf_dir):
    """CREATE INDEX ... USING INVERTED routes infix MATCH queries through
    the posting index (identical results to the full-scan translation),
    survives data changes via the lazy fingerprint rebuild, and DROP
    INDEX reverts to full scan."""
    from palo_spark.catalog import register_views
    from palo_spark.palo_session import PaloSession

    register_views(spark, sf_dir)
    ps = PaloSession(spark)
    ps.sql("DROP TABLE IF EXISTS ix_docs")
    ps.sql("CREATE TABLE ix_docs AS SELECT doc_id, text FROM documents WHERE doc_id < 150")
    ps.sql("CREATE INDEX ix_docs_text ON ix_docs (text) USING INVERTED")
    assert ps.sql("SHOW INDEX FROM ix_docs").collect()[0].index_type == "INVERTED"

    q = "SELECT doc_id FROM ix_docs WHERE `text` MATCH_ANY 'data learning' ORDER BY doc_id"
    r_idx = ps.sql(q).collect()
    assert ps.last_match_indexed
    ps_plain = PaloSession(spark)
    ps_plain.tables = ps.tables
    assert ps_plain.sql(q).collect() == r_idx and not ps_plain.last_match_indexed

    # data change: new rows must be visible through the index route
    ps.sql("INSERT INTO ix_docs VALUES (99991, 'data data learning rows')")
    r2 = ps.sql(q).collect()
    assert ps.last_match_indexed
    assert 99991 in {r.doc_id for r in r2}

    ps.sql("DROP INDEX ix_docs_text ON ix_docs")
    assert ps.sql("SHOW INDEX FROM ix_docs").count() == 0
    assert ps.sql(q).collect() == r2 and not ps.last_match_indexed


def test_session_variables_set_show_and_effects(spark):
    """SET/SHOW VARIABLES: stored-and-reported generally; time_zone and
    enable_sql_cache take real effect."""
    from palo_spark.palo_session import PaloSession

    ps = PaloSession(spark, result_cache=False)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        ps.sql("SET time_zone = 'Asia/Shanghai'")
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Shanghai"
        ps.sql("SET exec_mem_limit = 4294967296")
        rows = {r.variable_name: r.value for r in ps.sql("SHOW VARIABLES LIKE 'exec%'").collect()}
        assert rows == {"exec_mem_limit": "4294967296"}
        assert not ps.result_cache_enabled
        ps.sql("SET enable_sql_cache = true")
        assert ps.result_cache_enabled
        assert ps.sql("SHOW VARIABLES").count() >= 6
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_alter_table_add_rollup(spark):
    """ALTER TABLE ... ADD ROLLUP derives the rollup body from the
    table's agg spec and routes matching queries through it."""
    from palo_spark.palo_session import PaloSession

    ps = PaloSession(spark)
    ps.sql("DROP TABLE IF EXISTS ar_sales")
    ps.sql(
        """CREATE TABLE ar_sales (
             region VARCHAR(16), city VARCHAR(16), amount BIGINT SUM
           ) AGGREGATE KEY(region, city) DISTRIBUTED BY HASH(region) BUCKETS 4"""
    )
    ps.sql(
        "INSERT INTO ar_sales VALUES ('e','a',10),('e','b',5),('w','c',7),('e','a',3)"
    )
    ps.sql("ALTER TABLE ar_sales ADD ROLLUP r_region (region, amount)")
    rows = ps.sql(
        "SELECT region, SUM(amount) AS s FROM ar_sales GROUP BY region ORDER BY region"
    ).collect()
    assert [(r.region, r.s) for r in rows] == [("e", 18), ("w", 7)]
    # rollup stays correct through a subsequent load (delta maintenance)
    ps.sql("INSERT INTO ar_sales VALUES ('w','c',100)")
    rows = ps.sql(
        "SELECT region, SUM(amount) AS s FROM ar_sales GROUP BY region ORDER BY region"
    ).collect()
    assert [(r.region, r.s) for r in rows] == [("e", 18), ("w", 107)]


def test_show_data_sizes(spark, tmp_path):
    from palo_spark.palo_session import PaloSession

    s = PaloSession(spark, location_root=str(tmp_path / "wh_showdata"))
    s.sql("CREATE TABLE sd (k INT, v INT) DUPLICATE KEY(k)")
    s.sql("INSERT INTO sd VALUES (1, 10), (2, 20)")
    s.sql("INSERT INTO sd VALUES (3, 30)")
    rows = {r["TableName"]: r for r in s.sql("SHOW DATA").collect()}
    # Doris-shaped: per-table rows plus Total/Quota/Left summary rows,
    # human-readable sizes ("N.NNN KB"), ReplicaCount = rowset count.
    assert rows["sd"]["ReplicaCount"] == 2
    assert rows["sd"]["Size"].split()[1] in ("B", "KB", "MB")
    assert float(rows["sd"]["Size"].split()[0]) > 0
    assert {"Total", "Quota", "Left"} <= rows.keys()
    assert rows["Quota"]["Size"] == "1.000 TB"
    one = {r["TableName"]: r for r in s.sql("SHOW DATA FROM sd").collect()}
    assert one["sd"]["Size"] == rows["sd"]["Size"]


def test_recreated_table_never_serves_stale_index(spark, tmp_path):
    """DROP + re-CREATE restarts the table's mutation counter; the index
    freshness token must include the creation lineage so the OLD
    table's index can never pass as current (r6 regression: caught by
    the sf0.001 sweep when two runs shared the index path)."""
    from palo_spark.palo_session import PaloSession

    root = str(tmp_path / "wh_lineage")
    s = PaloSession(spark, location_root=root)
    s.sql("CREATE TABLE lx (id INT, body STRING) DUPLICATE KEY(id)")
    s.sql("INSERT INTO lx VALUES (1, 'alpha beta'), (2, 'gamma')")
    s.sql("CREATE INDEX lx_body ON lx (body) USING INVERTED")
    hits = s.sql("SELECT id FROM lx WHERE body MATCH_ANY 'alpha'").collect()
    assert [r["id"] for r in hits] == [1]

    # same name, same statement sequence (=> same mutation counter),
    # different content
    s2 = PaloSession(spark, location_root=root)
    s2.sql("DROP TABLE IF EXISTS lx")
    s2.sql("CREATE TABLE lx (id INT, body STRING) DUPLICATE KEY(id)")
    s2.sql("INSERT INTO lx VALUES (7, 'delta'), (8, 'alpha epsilon')")
    s2.sql("CREATE INDEX lx_body ON lx (body) USING INVERTED")
    hits = s2.sql("SELECT id FROM lx WHERE body MATCH_ANY 'alpha'").collect()
    assert [r["id"] for r in hits] == [8]  # stale index would say 1


def test_compress_uncompress_through_sql_text(spark):
    """COMPRESS/UNCOMPRESS are the only stdlib names needing session
    UDFs (no native Spark expression); PaloSession registers them at
    construction so the Doris SQL spelling works — round-trip identity
    incl. multibyte text, NULL pass-through, and composition with the
    sub_replace token rewrite in one statement."""
    from palo_spark.palo_session import PaloSession

    ps = PaloSession(spark)
    spark.createDataFrame(
        [("hello wörld",), (None,)], "s string"
    ).createOrReplaceTempView("cz")
    rows = ps.sql(
        "SELECT uncompress(compress(s)) AS rt, "
        "sub_replace(s, 'XX', 1, 2) AS sr FROM cz"
    ).collect()
    got = sorted(((r["rt"], r["sr"]) for r in rows), key=lambda t: (t[0] is None, t))
    assert got == [("hello wörld", "hXXlo wörld"), (None, None)]


def test_split_statements_ignores_comments_and_escapes(ps):
    """';' inside comments or escaped string literals must NOT split
    (ADVICE r7 medium: sql() auto-splits every call, so a fragmented
    single statement executes bogus pieces)."""
    split = ps._split_statements
    # ';' inside a -- line comment stays in one statement
    assert split("SELECT 1 AS a -- note; not a split\nFROM range(1)") == [
        "SELECT 1 AS a -- note; not a split\nFROM range(1)"
    ]
    # ';' inside /* */ block comment
    assert split("SELECT /* a;b */ 1 AS a") == ["SELECT /* a;b */ 1 AS a"]
    # ';' inside a # comment (MySQL dialect)
    assert split("SELECT 1 AS a # t;t") == ["SELECT 1 AS a # t;t"]
    # backslash-escaped quote then ';' still inside the literal
    assert split(r"SELECT 'it\'s; fine' AS s") == [r"SELECT 'it\'s; fine' AS s"]
    # doubled-quote escape
    assert split("SELECT 'it''s; fine' AS s") == ["SELECT 'it''s; fine' AS s"]
    # backtick identifiers may hold ';'
    assert split("SELECT 1 AS `a;b`") == ["SELECT 1 AS `a;b`"]
    # a--b is arithmetic (MySQL needs whitespace after --), splits fine
    assert split("SELECT 1--1 AS a; SELECT 2 AS b") == [
        "SELECT 1--1 AS a",
        " SELECT 2 AS b",
    ]
    # trailing comment-only fragment is dropped, not executed
    assert split("SELECT 1 AS a; -- done\n") == ["SELECT 1 AS a"]
    assert split("SELECT 1 AS a; /* tail */") == ["SELECT 1 AS a"]


def test_sql_single_statement_with_comment_semicolon(ps):
    rows = ps.sql(
        "SELECT 1 AS a -- comment; with semicolon\n UNION ALL SELECT 2"
    ).collect()
    assert sorted(r["a"] for r in rows) == [1, 2]


def test_multi_catalog_parquet_dir(ps, spark, tmp_path):
    """Doris 1.2 multi-catalog lite: CREATE CATALOG over a parquet
    directory, dotted cat.tbl references in queries, SHOW/REFRESH/DROP."""
    root = str(tmp_path / "ext_cat")
    spark.createDataFrame(
        [(1, "x"), (2, "y")], "k long, s string"
    ).write.parquet(root + "/dim.parquet")
    ps.sql(
        f"CREATE CATALOG extc PROPERTIES ('type'='parquet_dir', 'root'='{root}')"
    )
    cats = ps.sql("SHOW CATALOGS").collect()
    assert [(r["catalog_name"], r["n_tables"]) for r in cats] == [("extc", 1)]
    rows = ps.sql("SELECT k, s FROM extc.dim ORDER BY k").collect()
    assert [(r["k"], r["s"]) for r in rows] == [(1, "x"), (2, "y")]
    # cross-catalog join against a session table
    ps.sql("CREATE TABLE loc_t (k BIGINT, v DOUBLE) DUPLICATE KEY(k)")
    ps.sql("INSERT INTO loc_t VALUES (1, 10.0), (3, 30.0)")
    j = ps.sql(
        "SELECT d.k, d.s, l.v FROM extc.dim d JOIN loc_t l ON l.k = d.k"
    ).collect()
    assert [(r["k"], r["s"], r["v"]) for r in j] == [(1, "x", 10.0)]
    # a string literal containing 'extc.dim' must NOT be rewritten
    lit = ps.sql("SELECT 'extc.dim' AS s FROM extc.dim LIMIT 1").collect()
    assert lit[0]["s"] == "extc.dim"
    # REFRESH picks up a new table in the directory
    spark.createDataFrame([(9,)], "z long").write.parquet(root + "/dim2.parquet")
    ps.sql("REFRESH CATALOG extc")
    assert ps.sql("SELECT z FROM extc.dim2").collect()[0]["z"] == 9
    # IF NOT EXISTS is a no-op; unsupported type fails loud
    ps.sql(
        f"CREATE CATALOG IF NOT EXISTS extc PROPERTIES "
        f"('type'='parquet_dir', 'root'='{root}')"
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="unsupported catalog type"):
        ps.sql("CREATE CATALOG bad PROPERTIES ('type'='hive', 'root'='/x')")
    ps.sql("DROP CATALOG extc")
    assert ps.sql("SHOW CATALOGS").count() == 0


def test_multi_catalog_refresh_drops_vanished_and_cache_bypass(ps, spark, tmp_path):
    """r8 self-review fixes: re-creating a catalog must drop views for
    tables that vanished (no stale reads from the old root), queries
    touching catalog tables bypass the result cache (no mutation
    ledger), DROP CATALOG without IF EXISTS errors on unknown names,
    and a table alias equal to a catalog name is not mangled."""
    import pytest as _pt

    from palo_spark.palo_session import PaloSession

    ra, rb = str(tmp_path / "ra"), str(tmp_path / "rb")
    spark.createDataFrame([(1, "a")], "k long, s string").write.parquet(
        ra + "/old.parquet"
    )
    spark.createDataFrame([(2, "b")], "k long, s string").write.parquet(
        rb + "/fresh.parquet"
    )
    cps = PaloSession(spark, result_cache=True)
    cps.sql(f"CREATE CATALOG swap PROPERTIES ('type'='parquet_dir', 'root'='{ra}')")
    assert cps.sql("SELECT k FROM swap.old").collect()[0]["k"] == 1
    # re-create against root B: 'old' must vanish, not serve root A data
    cps.sql(f"CREATE CATALOG swap PROPERTIES ('type'='parquet_dir', 'root'='{rb}')")
    with _pt.raises(Exception):
        cps.sql("SELECT k FROM swap.old").collect()
    assert cps.sql("SELECT k FROM swap.fresh").collect()[0]["k"] == 2
    # catalog queries never hit the result cache
    cps.sql("SELECT k FROM swap.fresh").collect()
    cps.sql("SELECT k FROM swap.fresh").collect()
    assert cps.last_cache_hit is False
    # alias shadowing: a table alias equal to the catalog name survives
    spark.createDataFrame([(5,)], "k long").createOrReplaceTempView("plain_t")
    r = cps.sql("SELECT swap.k FROM plain_t swap").collect()
    assert r[0]["k"] == 5
    with _pt.raises(ValueError, match="unknown catalog"):
        cps.sql("DROP CATALOG nosuch")
    cps.sql("DROP CATALOG IF EXISTS nosuch")  # no-op, no error
    cps.sql("DROP CATALOG swap")


def test_double_minus_is_arithmetic_through_dialect(ps):
    """MySQL rule: '--' without trailing whitespace is subtraction of a
    negative, not a comment — and must survive the rejoin into Spark
    (which applies the ANSI any-'--' rule). r8 self-review fix."""
    rows = ps.script("SELECT 1--1 AS a; SELECT 2---2 AS b")
    assert rows[0].collect()[0]["a"] == 2
    assert rows[1].collect()[0]["b"] == 0


def test_update_writes_partial_rowset(ps):
    """Doris 2.0 runs UPDATE as a partial-column load on eligible UNIQUE
    tables: only (keys + SET columns) are written, untouched columns are
    resolved column-wise at read."""
    ps.sql("CREATE TABLE pu (`uid` BIGINT, `name` VARCHAR(10), `score` INT) UNIQUE KEY(uid) DISTRIBUTED BY HASH(uid) BUCKETS 2")
    ps.sql("INSERT INTO pu VALUES (1,'a',10),(2,'b',20)")
    ps.sql("UPDATE pu SET score = score * 2 WHERE uid = 1")
    t = ps.tables["pu"]
    last = t.meta.rowsets[-1]
    assert last.get("partial") == ["score"], last
    got = sorted((r["uid"], r["name"], r["score"])
                 for r in ps.sql("SELECT * FROM pu").collect())
    assert got == [(1, "a", 20), (2, "b", 20)]


def test_update_falls_back_after_delete_sign_load(ps):
    """UPDATE on a table with live delete-sign rowsets must fall back to
    the full-row upsert (a partial load would be refused)."""
    from palo_spark.tables import DELETE_SIGN_COL
    ps.sql("CREATE TABLE pu2 (`uid` BIGINT, `name` VARCHAR(10), `score` INT) UNIQUE KEY(uid) DISTRIBUTED BY HASH(uid) BUCKETS 2")
    ps.sql("INSERT INTO pu2 VALUES (1,'a',10),(2,'b',20),(3,'c',30)")
    t = ps.tables["pu2"]
    t.insert(t.read().sparkSession.createDataFrame(
        [(3, "x", 0, 1)],
        f"uid long, name string, score int, {DELETE_SIGN_COL} int"))
    ps.sql("UPDATE pu2 SET score = score + 1 WHERE uid = 1")
    assert t.meta.rowsets[-1].get("partial") is None  # full-row path
    got = sorted((r["uid"], r["score"])
                 for r in ps.sql("SELECT * FROM pu2").collect())
    assert got == [(1, 11), (2, 20)]


def test_create_table_like(ps):
    """Doris CREATE TABLE LIKE: a new empty table with the source's
    layout (key model, keys, sequence col, distribution) and none of
    its data."""
    import pytest as _pytest
    ps.sql("CREATE TABLE src_like (`k` BIGINT, `s` BIGINT, `v` VARCHAR(10)) UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 4 PROPERTIES ('function_column.sequence_col' = 's')")
    ps.sql("INSERT INTO src_like VALUES (1, 1, 'a')")
    ps.sql("CREATE TABLE dst_like LIKE src_like")
    t = ps.tables["dst_like"]
    src = ps.tables["src_like"]
    assert t.meta.keys_type == "UNIQUE"
    assert t.meta.key_cols == ["k"]
    assert t.meta.sequence_col == "s"
    assert t.meta.dist_cols == src.meta.dist_cols
    assert t.meta.buckets == 4
    assert t.meta.rowsets == []  # empty — layout only
    ps.sql("INSERT INTO dst_like VALUES (7, 1, 'z')")
    assert [r["k"] for r in ps.sql("SELECT * FROM dst_like").collect()] == [7]
    assert ps.sql("SELECT count(*) AS n FROM src_like").collect()[0]["n"] == 1
    assert ps.sql("CREATE TABLE IF NOT EXISTS dst_like LIKE src_like") is None
    with _pytest.raises(ValueError, match="already exists"):
        ps.sql("CREATE TABLE dst_like LIKE src_like")


def test_show_create_table_roundtrip(ps):
    """SHOW CREATE TABLE output is re-executable DDL: creating a table
    from it reproduces the full layout (a migrating user's copy-paste
    path)."""
    ps.sql("CREATE TABLE sct (`k` BIGINT, `s` BIGINT, `v` DOUBLE) UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 3 PROPERTIES ('function_column.sequence_col' = 's')")
    ddl = ps.sql("SHOW CREATE TABLE sct").collect()[0]["create_table"]
    assert "DISTRIBUTED BY HASH(`k`) BUCKETS 3" in ddl
    assert "sequence_col" in ddl
    ps.sql(ddl.replace("`sct`", "`sct2`"))
    a, b = ps.tables["sct"].meta, ps.tables["sct2"].meta
    assert (a.keys_type, a.key_cols, a.sequence_col, a.dist_cols, a.buckets) \
        == (b.keys_type, b.key_cols, b.sequence_col, b.dist_cols, b.buckets)
    # auto-partition tables round-trip too
    ps.sql("CREATE TABLE sct_ap (`d` DATE, `v` INT) DUPLICATE KEY(d) AUTO PARTITION BY RANGE (date_trunc(`d`, 'month')) () DISTRIBUTED BY HASH(d) BUCKETS 2")
    ap_ddl = ps.sql("SHOW CREATE TABLE sct_ap").collect()[0]["create_table"]
    ps.sql(ap_ddl.replace("`sct_ap`", "`sct_ap2`"))
    assert ps.tables["sct_ap2"].meta.auto_partition == {
        "col": "d", "granularity": "month"}


def test_alter_table_rename(ps):
    """ALTER TABLE x RENAME y: metadata-only re-key; the old name stops
    resolving, the new name serves the same data and accepts loads."""
    import pytest as _pytest
    ps.sql("CREATE TABLE rn_old (`k` BIGINT, `v` INT) UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO rn_old VALUES (1, 10)")
    ps.sql("ALTER TABLE rn_old RENAME rn_new")
    assert "rn_old" not in ps.tables and "rn_new" in ps.tables
    assert ps.sql("SELECT v FROM rn_new").collect()[0]["v"] == 10
    ps.sql("INSERT INTO rn_new VALUES (2, 20)")
    assert ps.sql("SELECT count(*) AS n FROM rn_new").collect()[0]["n"] == 2
    with _pytest.raises(Exception):
        ps.sql("SELECT * FROM rn_old").collect()
    # RENAME COLUMN still routes to the column path
    ps.sql("ALTER TABLE rn_new RENAME COLUMN v v2")
    assert "v2" in ps.sql("SELECT * FROM rn_new").columns


def test_mysql_client_compat_statements(ps, tmp_path):
    """SHOW COLUMNS FROM / SHOW DATABASES / USE — the statements a
    mysql-client session issues on connect."""
    import pytest as _pytest
    ps.sql("CREATE TABLE compat_t (`k` BIGINT, `v` INT) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    cols = [r[0] for r in ps.sql("SHOW COLUMNS FROM compat_t").collect()]
    desc = [r[0] for r in ps.sql("DESC compat_t").collect()]
    assert cols == desc == ["k", "v"]
    dbs = [r["database"] for r in ps.sql("SHOW DATABASES").collect()]
    assert "default" in dbs
    assert ps.sql("USE default") is None
    with _pytest.raises(ValueError, match="unknown database"):
        ps.sql("USE nonexistent_db")


def test_create_routine_load_statement(ps, tmp_path):
    """CREATE/SHOW/PAUSE/RESUME/STOP ROUTINE LOAD: the Doris
    continuous-ingestion statement over the file-backed broker
    simulation; exactly-once across scheduling rounds (checkpoint +
    label ledger)."""
    import json as _json
    import pytest as _pytest
    src = tmp_path / "rl_src"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(
        _json.dumps({"k": i, "v": i * 10}) for i in range(3)))
    ps.sql("CREATE TABLE rl_t (`k` BIGINT, `v` INT) UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql(f"""CREATE ROUTINE LOAD rl_job ON rl_t
               PROPERTIES ('format' = 'json')
               FROM KAFKA ('kafka_broker_list' = 'file://{src}',
                           'kafka_topic' = 'rl')""")
    assert ps.sql("SELECT count(*) AS n FROM rl_t").collect()[0]["n"] == 3
    st = ps.sql("SHOW ROUTINE LOAD FOR rl_job").collect()[0]
    assert (st["state"], st["table_name"]) == ("RUNNING", "rl_t")
    # pause, add files, resume → only the new files load, exactly once
    ps.sql("PAUSE ROUTINE LOAD FOR rl_job")
    (src / "b1.json").write_text(_json.dumps({"k": 99, "v": 990}))
    ps.sql("RESUME ROUTINE LOAD FOR rl_job")
    got = sorted(r["k"] for r in ps.sql("SELECT k FROM rl_t").collect())
    assert got == [0, 1, 2, 99]
    ps.sql("RESUME ROUTINE LOAD FOR rl_job")  # nothing new — no dup rows
    assert ps.sql("SELECT count(*) AS n FROM rl_t").collect()[0]["n"] == 4
    ps.sql("STOP ROUTINE LOAD FOR rl_job")
    with _pytest.raises(ValueError, match="STOPPED"):
        ps.sql("RESUME ROUTINE LOAD FOR rl_job")
    with _pytest.raises(ValueError, match="Kafka connector"):
        ps.sql("CREATE ROUTINE LOAD rl2 ON rl_t PROPERTIES ('format'='json') FROM KAFKA ('kafka_broker_list' = 'broker:9092')")


def test_routine_load_csv_format(ps, tmp_path):
    """Routine load with the csv value format (the other upstream
    decode path)."""
    src = tmp_path / "rl_csv"
    src.mkdir()
    (src / "a.csv").write_text("1,10\n2,20\n")
    ps.sql("CREATE TABLE rlc_t (`k` BIGINT, `v` INT) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql(f"CREATE ROUTINE LOAD rlc_job ON rlc_t PROPERTIES ('format'='csv') FROM KAFKA ('kafka_broker_list' = 'file://{src}')")
    got = sorted((r["k"], r["v"]) for r in ps.sql("SELECT * FROM rlc_t").collect())
    assert got == [(1, 10), (2, 20)]


def test_ddl_roundtrip_fuzz(ps):
    """Randomized CREATE TABLE definitions round-trip through SHOW
    CREATE TABLE: re-executing the emitted DDL reproduces the key
    model, key columns, aggregate spec, sequence column, and
    distribution (seeded sweep over the DDL grammar)."""
    import random

    rng = random.Random(7)
    types = ["BIGINT", "INT", "DOUBLE", "VARCHAR(20)", "DATE"]
    aggs = ["SUM", "MAX", "MIN", "REPLACE"]
    for i in range(8):
        model = rng.choice(["DUPLICATE", "UNIQUE", "AGGREGATE"])
        n_keys = rng.randint(1, 2)
        keys = [f"k{j}" for j in range(n_keys)]
        cols = [f"`{k}` {rng.choice(['BIGINT', 'INT'])}" for k in keys]
        vals = []
        for j in range(rng.randint(1, 3)):
            ty = rng.choice(types)
            agg = ""
            if model == "AGGREGATE":
                agg = " " + (rng.choice(aggs) if ty != "VARCHAR(20)" else "REPLACE")
            vals.append(f"`v{j}` {ty}{agg}")
        seq = ""
        if model == "UNIQUE" and rng.random() < 0.4:
            cols.append("`sq` BIGINT")
            seq = " PROPERTIES ('function_column.sequence_col' = 'sq')"
        ddl = (
            f"CREATE TABLE fz{i} (" + ", ".join(cols + vals) + f") "
            f"{model} KEY({', '.join(keys)}) "
            f"DISTRIBUTED BY HASH({keys[0]}) BUCKETS {rng.randint(1, 16)}"
            + seq
        )
        ps.sql(ddl)
        out = ps.sql(f"SHOW CREATE TABLE fz{i}").collect()[0]["create_table"]
        ps.sql(out.replace(f"`fz{i}`", f"`fz{i}r`"))
        a, b = ps.tables[f"fz{i}"].meta, ps.tables[f"fz{i}r"].meta
        assert (
            a.keys_type, a.key_cols, a.agg_spec, a.sequence_col,
            a.dist_cols, a.buckets,
        ) == (
            b.keys_type, b.key_cols, b.agg_spec, b.sequence_col,
            b.dist_cols, b.buckets,
        ), ddl


def test_alter_rejected_while_mv_references_column(ps):
    """Doris rule: a column referenced by a synchronous MV cannot be
    renamed/dropped/retyped — the MV's load-time maintenance would re-run
    its stale definition and fail the user's NEXT INSERT (regression:
    rename then insert crashed inside the rollup refresh hook). Dropping
    the MV lifts the restriction; unreferenced columns stay alterable."""
    import pytest

    ps.sql("CREATE TABLE mguard (k BIGINT, grp VARCHAR(8), val DOUBLE) "
           "UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 4")
    ps.sql("INSERT INTO mguard VALUES (1,'a',1.0),(2,'a',2.0),(3,'b',3.0)")
    ps.sql("CREATE MATERIALIZED VIEW mvg AS "
           "SELECT grp, SUM(val) AS s FROM mguard GROUP BY grp")
    for stmt in (
        "ALTER TABLE mguard RENAME COLUMN val amount",
        "ALTER TABLE mguard DROP COLUMN val",
        "ALTER TABLE mguard MODIFY COLUMN val VARCHAR(10)",
        "ALTER TABLE mguard RENAME COLUMN grp segment",
    ):
        with pytest.raises(ValueError, match="materialized view"):
            ps.sql(stmt)
    # a column the MV does not reference is fine, and loads keep
    # maintaining the MV afterwards
    ps.sql("ALTER TABLE mguard ADD COLUMN note VARCHAR(20) DEFAULT 'x'")
    ps.sql("INSERT INTO mguard (k, grp, val) VALUES (4,'b',10.0)")
    got = {r["grp"]: r["s"] for r in ps.sql(
        "SELECT grp, SUM(val) AS s FROM mguard GROUP BY grp").collect()}
    assert got == {"a": 3.0, "b": 13.0}
    # DROP MATERIALIZED VIEW lifts the restriction
    ps.sql("DROP MATERIALIZED VIEW mvg")
    ps.sql("ALTER TABLE mguard RENAME COLUMN val amount")
    ps.sql("INSERT INTO mguard (k, grp, amount) VALUES (5,'c',7.0)")
    got = {r["grp"]: r["s"] for r in ps.sql(
        "SELECT grp, SUM(amount) AS s FROM mguard GROUP BY grp").collect()}
    assert got == {"a": 3.0, "b": 13.0, "c": 7.0}


def test_rename_column_accepts_optional_to_keyword(ps):
    """MySQL 8 spells it RENAME COLUMN a TO b; Doris omits the TO —
    accept both."""
    ps.sql("CREATE TABLE rto (k BIGINT, v DOUBLE) UNIQUE KEY(k)")
    ps.sql("INSERT INTO rto VALUES (1, 5.0)")
    ps.sql("ALTER TABLE rto RENAME COLUMN v TO w")
    assert [r["w"] for r in ps.sql("SELECT w FROM rto").collect()] == [5.0]


def test_drop_table_drops_its_materialized_views(ps):
    """Synchronous MVs die with their base (Doris): a zombie rollup
    would silently answer a LATER same-named table's aggregates with
    the dropped table's data via the rewrite path (regression — it
    served 100/200 against a recreated table holding only 1.0)."""
    ps.sql("CREATE TABLE zomb (k BIGINT, grp VARCHAR(8), val DOUBLE) "
           "DUPLICATE KEY(k)")
    ps.sql("INSERT INTO zomb VALUES (1,'a',100.0),(2,'b',200.0)")
    ps.sql("CREATE MATERIALIZED VIEW zombmv AS "
           "SELECT grp, SUM(val) AS s FROM zomb GROUP BY grp")
    ps.sql("DROP TABLE zomb")
    assert ps.sql("SHOW MATERIALIZED VIEWS").count() == 0
    ps.sql("CREATE TABLE zomb (k BIGINT, grp VARCHAR(8), val DOUBLE) "
           "DUPLICATE KEY(k)")
    ps.sql("INSERT INTO zomb VALUES (1,'a',1.0)")
    got = [(r["grp"], r["s"]) for r in ps.sql(
        "SELECT grp, SUM(val) AS s FROM zomb GROUP BY grp").collect()]
    assert got == [("a", 1.0)]


def test_rename_table_rekeys_mvs_and_keeps_maintaining_them(ps):
    """ALTER TABLE RENAME moves the table's MVs (and index entries) to
    the new name: the rewrite still answers from the rollup, loads keep
    maintaining it (the hook resolves the base name at call time), and
    a NEW table under the OLD name is never answered from the moved MV."""
    ps.sql("CREATE TABLE rko (k BIGINT, grp VARCHAR(8), val DOUBLE) "
           "DUPLICATE KEY(k)")
    ps.sql("INSERT INTO rko VALUES (1,'a',100.0),(2,'b',200.0)")
    ps.sql("CREATE MATERIALIZED VIEW rkomv AS "
           "SELECT grp, SUM(val) AS s FROM rko GROUP BY grp")
    ps.sql("ALTER TABLE rko RENAME rkn")
    ps.sql("INSERT INTO rkn VALUES (3,'a',1.0)")
    # the rewrite serves the NEW name from the moved, still-maintained MV
    df, source = ps.rollups.sql(
        "SELECT grp, SUM(val) AS s FROM rkn GROUP BY grp")
    assert source == "rkomv"
    assert sorted((r["grp"], r["s"]) for r in df.collect()) == [
        ("a", 101.0), ("b", 200.0)]
    # old name reused by a fresh table: plain scan, no MV capture
    ps.sql("CREATE TABLE rko (k BIGINT, grp VARCHAR(8), val DOUBLE) "
           "DUPLICATE KEY(k)")
    ps.sql("INSERT INTO rko VALUES (9,'a',7.0)")
    got = [(r["grp"], r["s"]) for r in ps.sql(
        "SELECT grp, SUM(val) AS s FROM rko GROUP BY grp").collect()]
    assert got == [("a", 7.0)]


def test_truncate_and_delete_propagate_to_materialized_views(ps):
    """Insert-time MV maintenance only ever ADDS deltas, so removals
    must re-derive the stores: TRUNCATE and DELETE used to leave the
    rollup answering with removed rows' contributions forever
    (regression: truncate+insert 1.0 answered 101.0; DELETE grp='b'
    kept serving b=200)."""
    ps.sql("CREATE TABLE mvrm (k BIGINT, grp VARCHAR(8), val DOUBLE) "
           "DUPLICATE KEY(k)")
    ps.sql("INSERT INTO mvrm VALUES (1,'a',100.0),(2,'b',200.0)")
    ps.sql("CREATE MATERIALIZED VIEW mvrmv AS "
           "SELECT grp, SUM(val) AS s FROM mvrm GROUP BY grp")
    ps.sql("DELETE FROM mvrm WHERE grp = 'b'")
    df, source = ps.rollups.sql(
        "SELECT grp, SUM(val) AS s FROM mvrm GROUP BY grp")
    assert source == "mvrmv"  # still MV-answered, from the re-derived store
    assert sorted((r["grp"], r["s"]) for r in df.collect()) == [("a", 100.0)]
    ps.sql("TRUNCATE TABLE mvrm")
    ps.sql("INSERT INTO mvrm VALUES (3,'a',1.0)")
    df, source = ps.rollups.sql(
        "SELECT grp, SUM(val) AS s FROM mvrm GROUP BY grp")
    assert source == "mvrmv"
    assert sorted((r["grp"], r["s"]) for r in df.collect()) == [("a", 1.0)]


def test_inverted_index_follows_column_rename_and_drop(ps):
    """Postings are content-keyed, so RENAME COLUMN re-keys the index
    registry (MATCH on the new name keeps the pruned path, rebuilt
    lazily under the new column); DROP COLUMN removes the index with its
    posting store, like DROP TABLE already did."""
    ps.sql("CREATE TABLE idocs (id BIGINT, body VARCHAR(200)) "
           "DUPLICATE KEY(id)")
    ps.sql("INSERT INTO idocs VALUES (1,'hash join vector'),"
           "(2,'sort merge'),(3,'hash table')")
    ps.sql("CREATE INDEX idx_ib ON idocs (body) USING INVERTED")
    assert sorted(r["id"] for r in ps.sql(
        "SELECT id FROM idocs WHERE body MATCH_ANY 'hash'").collect()) == [1, 3]
    ps.sql("ALTER TABLE idocs RENAME COLUMN body content")
    assert ps.indexes["idx_ib"][1] == "content"
    assert sorted(r["id"] for r in ps.sql(
        "SELECT id FROM idocs WHERE content MATCH_ANY 'hash'").collect()) == [1, 3]
    ps.sql("ALTER TABLE idocs DROP COLUMN content")
    assert "idx_ib" not in ps.indexes


def test_insert_overwrite_propagates_to_materialized_views(ps):
    """INSERT OVERWRITE's truncate half never reaches the MV maintenance
    hooks (they only see the inserted batch), so the rollup kept
    pre-overwrite sums plus the new batch (served 101/200 against a
    table holding only 1.0). The handler re-derives the table's rollups
    after the overwrite commits."""
    ps.sql("CREATE TABLE owp (k BIGINT, grp VARCHAR(8), val DOUBLE) "
           "DUPLICATE KEY(k)")
    ps.sql("INSERT INTO owp VALUES (1,'a',100.0),(2,'b',200.0)")
    ps.sql("CREATE MATERIALIZED VIEW owpmv AS "
           "SELECT grp, SUM(val) AS s FROM owp GROUP BY grp")
    ps.sql("INSERT OVERWRITE TABLE owp VALUES (3,'a',1.0)")
    df, source = ps.rollups.sql(
        "SELECT grp, SUM(val) AS s FROM owp GROUP BY grp")
    assert source == "owpmv"
    assert sorted((r["grp"], r["s"]) for r in df.collect()) == [("a", 1.0)]
    # self-referential overwrite (reads the target) stays correct too
    ps.sql("INSERT OVERWRITE TABLE owp SELECT k, grp, val * 2 AS val FROM owp")
    df, source = ps.rollups.sql(
        "SELECT grp, SUM(val) AS s FROM owp GROUP BY grp")
    assert source == "owpmv"
    assert sorted((r["grp"], r["s"]) for r in df.collect()) == [("a", 2.0)]


def test_update_then_delete_just_works(ps):
    """UPDATE takes the partial-load path internally; a following DELETE
    must succeed (the engine folds the overlay implicitly) and see the
    updated values (regression: the lifecycle fuzzer hit a refusal)."""
    ps.sql("CREATE TABLE updel (k BIGINT, grp VARCHAR(8), val DOUBLE) "
           "UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 4")
    ps.sql("INSERT INTO updel VALUES (1,'a',1.0),(2,'b',10.0)")
    ps.sql("UPDATE updel SET val = val + 100 WHERE k = 1")
    ps.sql("DELETE FROM updel WHERE val > 50")  # matches the UPDATED row
    assert [(r["k"], r["val"]) for r in ps.sql(
        "SELECT k, val FROM updel ORDER BY k").collect()] == [(2, 10.0)]


def test_create_table_is_queryable_before_first_load(ps):
    """A freshly created (or LIKE-cloned) table is selectable as empty,
    and an MV may be created on it — the store builds empty and fills on
    the first load (regressions: unknown-view error, and crashes in MV
    registration / empty-table UPDATE / empty-table rename with MV)."""
    ps.sql("CREATE TABLE fresh (k BIGINT, grp VARCHAR(8), val DOUBLE) "
           "UNIQUE KEY(k)")
    assert ps.sql("SELECT * FROM fresh").count() == 0
    ps.sql("CREATE TABLE fresh2 LIKE fresh")
    assert ps.sql("SELECT * FROM fresh2").count() == 0
    ps.sql("UPDATE fresh SET val = 1 WHERE k = 1")  # matches nothing
    ps.sql("CREATE MATERIALIZED VIEW freshmv AS "
           "SELECT grp, SUM(val) AS s FROM fresh GROUP BY grp")
    ps.sql("DELETE FROM fresh WHERE k >= 0")  # empty + MV: no crash
    ps.sql("ALTER TABLE fresh RENAME fresh_r")  # empty + MV re-key
    ps.sql("INSERT INTO fresh_r VALUES (1,'a',2.0)")
    df, source = ps.rollups.sql(
        "SELECT grp, SUM(val) AS s FROM fresh_r GROUP BY grp")
    assert source == "freshmv"
    assert [(r["grp"], r["s"]) for r in df.collect()] == [("a", 2.0)]


def test_drop_table_stops_its_routine_jobs(ps, tmp_path):
    """ADVICE r8: a routine-load job must die with its table (Doris
    cancels jobs on DROP) — otherwise a LATER table created under the
    same name silently receives the old job's ingestion."""
    import json as _json
    src = tmp_path / "rl_drop_src"
    src.mkdir()
    (src / "b0.json").write_text(_json.dumps({"k": 1, "v": 10}))
    ps.sql("CREATE TABLE rld_t (`k` BIGINT, `v` INT) UNIQUE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql(f"CREATE ROUTINE LOAD rld_job ON rld_t "
           f"PROPERTIES ('format'='json') "
           f"FROM KAFKA ('kafka_broker_list' = 'file://{src}')")
    ps.sql("DROP TABLE rld_t")
    assert ps.routine_jobs["rld_job"]["state"] == "STOPPED"
    with pytest.raises(ValueError, match="STOPPED"):
        ps.sql("RESUME ROUTINE LOAD FOR rld_job")
    # a new same-named table must NOT receive the dead job's ingestion
    ps.sql("CREATE TABLE rld_t (`k` BIGINT, `v` INT) UNIQUE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    (src / "b1.json").write_text(_json.dumps({"k": 2, "v": 20}))
    with pytest.raises(ValueError, match="STOPPED"):
        ps.sql("RESUME ROUTINE LOAD FOR rld_job")
    assert ps.sql("SELECT count(*) AS n FROM rld_t").collect()[0]["n"] == 0


def test_rename_table_rekeys_its_routine_jobs(ps, tmp_path):
    """ADVICE r8: ALTER TABLE ... RENAME must re-key routine jobs'
    stored table name so RESUME keeps ingesting into the renamed table
    instead of KeyError-ing."""
    import json as _json
    src = tmp_path / "rl_ren_src"
    src.mkdir()
    (src / "b0.json").write_text(_json.dumps({"k": 1, "v": 10}))
    ps.sql("CREATE TABLE rlr_t (`k` BIGINT, `v` INT) UNIQUE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql(f"CREATE ROUTINE LOAD rlr_job ON rlr_t "
           f"PROPERTIES ('format'='json') "
           f"FROM KAFKA ('kafka_broker_list' = 'file://{src}')")
    ps.sql("ALTER TABLE rlr_t RENAME rlr_t2")
    assert ps.routine_jobs["rlr_job"]["table"] == "rlr_t2"
    (src / "b1.json").write_text(_json.dumps({"k": 2, "v": 20}))
    ps.sql("RESUME ROUTINE LOAD FOR rlr_job")
    got = sorted(r["k"] for r in ps.sql("SELECT k FROM rlr_t2").collect())
    assert got == [1, 2]


def test_create_table_like_clones_partition_layout_and_adds(ps):
    """ADVICE r8: CREATE TABLE x LIKE y must clone the static partition
    layout (partition_by) and light-schema-change adds with their
    defaults — a clone missing partition_by would wrongly pass the
    partial-column eligibility check."""
    from palo_spark.tables import Table
    src = Table(ps.spark, "likesrc", keys_type="UNIQUE", key_cols=["k"],
                partition_by=["p"])
    src.insert(ps.spark.createDataFrame([(1, "a", "x")],
                                        "k long, v string, p string"))
    src.add_column("extra", "int", default=7)
    ps.tables["likesrc"] = src
    ps._refresh_view("likesrc")
    ps.sql("CREATE TABLE likedst LIKE likesrc")
    dst = ps.tables["likedst"]
    assert dst.meta.partition_by == ["p"]
    assert [(a["col"], a["type"], a["default"])
            for a in dst.meta.schema_adds] == [("extra", "int", 7)]
    # partitioned layout → partial-column loads refused, as on the source
    dst.insert(ps.spark.createDataFrame([(1, "b", "y")],
                                        "k long, v string, p string"))
    with pytest.raises(ValueError, match="partition"):
        dst.insert(ps.spark.createDataFrame([(1, "c")], "k long, v string"),
                   partial_columns=True)


# --------------------------- r9 interaction audit: catalog x session ---


@pytest.fixture
def ext_cat(ps, tmp_path):
    """A parquet_dir catalog with one table ext.ext_t = (k, v)."""
    root = tmp_path / "extroot"
    root.mkdir()
    ps.spark.range(5).selectExpr("id as k", "id * 10 as v").write.parquet(
        str(root / "ext_t.parquet")
    )
    ps.sql(f"CREATE CATALOG ext PROPERTIES ('type'='parquet_dir', 'root'='{root}')")
    return root


def _rewrite_ext(ps, root, n, mult):
    import shutil
    shutil.rmtree(root / "ext_t.parquet")
    ps.spark.range(n).selectExpr("id as k", f"id * {mult} as v").write.parquet(
        str(root / "ext_t.parquet")
    )
    ps.sql("REFRESH CATALOG ext")


def test_create_view_over_catalog_table(ps, ext_cat):
    """r9 audit: catalog refs must be rewritten for EVERY statement
    kind, not just the tail query path — CREATE VIEW over ext.tbl
    crashed TABLE_OR_VIEW_NOT_FOUND before."""
    ps.sql("CREATE VIEW cvw AS SELECT k, v FROM ext.ext_t WHERE k >= 1")
    assert ps.sql("SELECT count(*) AS n FROM cvw").collect()[0]["n"] == 4
    # CTAS and INSERT ... SELECT from the catalog too
    ps.sql("CREATE TABLE ctas_ext AS SELECT k, v FROM ext.ext_t WHERE k < 2")
    assert ps.sql("SELECT count(*) AS n FROM ctas_ext").collect()[0]["n"] == 2
    ps.sql("CREATE TABLE ins_ext (`k` BIGINT, `v` BIGINT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO ins_ext SELECT k, v FROM ext.ext_t")
    assert ps.sql("SELECT count(*) AS n FROM ins_ext").collect()[0]["n"] == 5


def test_result_cache_bypassed_through_catalog_views(spark, tmp_path):
    """r9 audit (wrong-answer repro): a view name HID its catalog ref
    from the result-cache gate, so a REFRESH CATALOG after the root
    files changed served stale cached rows. Views that read a catalog
    (directly or through another such view) must never be cached."""
    from palo_spark.palo_session import PaloSession

    ps = PaloSession(spark, location_root=str(tmp_path / "loc"),
                     result_cache=True)
    root = tmp_path / "extroot"
    root.mkdir()
    ps.spark.range(5).selectExpr("id as k", "id * 10 as v").write.parquet(
        str(root / "ext_t.parquet")
    )
    ps.sql(f"CREATE CATALOG ext PROPERTIES ('type'='parquet_dir', 'root'='{root}')")
    ps.sql("CREATE VIEW cv AS SELECT k, v FROM ext.ext_t")
    assert ps.sql("SELECT sum(v) AS s FROM cv").collect()[0]["s"] == 100
    _rewrite_ext(ps, root, 3, 100)
    assert ps.sql("SELECT sum(v) AS s FROM cv").collect()[0]["s"] == 300
    assert ps.last_cache_hit is False
    # nested: a view over the catalog view inherits the bypass
    ps.sql("CREATE VIEW cv2 AS SELECT sum(v) AS s FROM cv")
    assert ps.sql("SELECT s FROM cv2").collect()[0]["s"] == 300
    _rewrite_ext(ps, root, 2, 1000)
    assert ps.sql("SELECT s FROM cv2").collect()[0]["s"] == 1000
    assert ps.last_cache_hit is False
    # and plain session-table queries still cache
    ps.sql("CREATE TABLE sc (`k` BIGINT) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO sc VALUES (1)")
    ps.sql("SELECT count(*) AS n FROM sc").collect()
    ps.sql("SELECT count(*) AS n FROM sc").collect()
    assert ps.last_cache_hit is True


def test_sync_mv_over_catalog_table_rejected(ps, ext_cat):
    """r9 audit (wrong-answer repro): a sync MV snapshotted the catalog
    files with no maintenance trigger — after REFRESH CATALOG the
    rewrite path served pre-refresh aggregates. Upstream restricts sync
    MVs to internal OLAP tables; reject."""
    with pytest.raises(ValueError, match="external-catalog"):
        ps.sql("CREATE MATERIALIZED VIEW bad_mv AS "
               "SELECT k, sum(v) AS sv FROM ext.ext_t GROUP BY k")


# ---------------------- r9 interaction audit: streaming x lifecycle ---


def test_routine_load_follows_schema_changes(ps, tmp_path):
    """r9 audit pin: ADD COLUMN / RENAME COLUMN between scheduling
    rounds — later files carrying the new/renamed column load with
    their values (a stale declared schema would silently default/drop
    them)."""
    import json as _json
    src = tmp_path / "rl_schema"
    src.mkdir()
    (src / "b0.json").write_text(_json.dumps({"k": 1, "v": 10}))
    ps.sql("CREATE TABLE rsc (`k` BIGINT, `v` INT) UNIQUE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql(f"CREATE ROUTINE LOAD rsj ON rsc PROPERTIES ('format'='json') "
           f"FROM KAFKA ('kafka_broker_list'='file://{src}')")
    ps.sql("PAUSE ROUTINE LOAD FOR rsj")
    ps.sql("ALTER TABLE rsc ADD COLUMN w INT DEFAULT 0")
    (src / "b1.json").write_text(_json.dumps({"k": 2, "v": 20, "w": 99}))
    ps.sql("RESUME ROUTINE LOAD FOR rsj")
    got = sorted((r["k"], r["v"], r["w"])
                 for r in ps.sql("SELECT k, v, w FROM rsc").collect())
    assert got == [(1, 10, 0), (2, 20, 99)]
    ps.sql("PAUSE ROUTINE LOAD FOR rsj")
    ps.sql("ALTER TABLE rsc RENAME COLUMN v v2")
    (src / "b2.json").write_text(_json.dumps({"k": 3, "v2": 30, "w": 7}))
    ps.sql("RESUME ROUTINE LOAD FOR rsj")
    got = sorted((r["k"], r["v2"], r["w"])
                 for r in ps.sql("SELECT k, v2, w FROM rsc").collect())
    assert got == [(1, 10, 0), (2, 20, 99), (3, 30, 7)]


def test_routine_load_truncate_midstream_exactly_once(ps, tmp_path):
    """r9 audit pin: TRUNCATE between scheduling rounds empties the
    table but keeps the job's source offsets — RESUME drains only NEW
    files (no replay of pre-truncate batches)."""
    import json as _json
    src = tmp_path / "rl_trunc"
    src.mkdir()
    (src / "b0.json").write_text(_json.dumps({"k": 1, "v": 10}))
    ps.sql("CREATE TABLE rtc (`k` BIGINT, `v` INT) UNIQUE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql(f"CREATE ROUTINE LOAD rtj ON rtc PROPERTIES ('format'='json') "
           f"FROM KAFKA ('kafka_broker_list'='file://{src}')")
    ps.sql("PAUSE ROUTINE LOAD FOR rtj")
    ps.sql("TRUNCATE TABLE rtc")
    (src / "b1.json").write_text(_json.dumps({"k": 2, "v": 20}))
    ps.sql("RESUME ROUTINE LOAD FOR rtj")
    got = sorted((r["k"], r["v"]) for r in ps.sql("SELECT * FROM rtc").collect())
    assert got == [(2, 20)]


def test_stopped_routine_job_name_is_reusable(ps, tmp_path):
    """r9 audit: upstream finalized routine-load labels are reusable.
    Re-creating over a STOPPED job must work, and on the SAME table the
    new job continues from the old checkpoint — no batch replay."""
    import json as _json
    src = tmp_path / "rl_reuse"
    src.mkdir()
    (src / "b0.json").write_text(_json.dumps({"k": 1, "v": 10}))
    ps.sql("CREATE TABLE rrt (`k` BIGINT, `v` INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    mk = (f"CREATE ROUTINE LOAD rrj ON rrt PROPERTIES ('format'='json') "
          f"FROM KAFKA ('kafka_broker_list'='file://{src}')")
    ps.sql(mk)
    ps.sql("STOP ROUTINE LOAD FOR rrj")
    ps.sql(mk)  # reuse the finalized name
    assert ps.sql("SELECT count(*) AS n FROM rrt").collect()[0]["n"] == 1
    st = ps.sql("SHOW ROUTINE LOAD FOR rrj").collect()[0]
    assert st["state"] == "RUNNING"
    # a RUNNING name still collides
    with pytest.raises(ValueError, match="already exists"):
        ps.sql(mk)


def test_jdbc_catalog_discovery_and_refresh(ps, tmp_path):
    """CREATE CATALOG type='jdbc' (VERDICT r8 #8): table auto-discovery
    from the database's own metadata, live remote-write visibility
    without REFRESH (the views wrap JDBC relations, re-read per query),
    and REFRESH CATALOG picking up newly created tables."""
    import os as _os

    from palo_spark.sources import jdbc_sink

    url = f"jdbc:derby:{tmp_path}/jcat;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    jdbc_sink(ps.spark.range(5).selectExpr("id as k", "id * 10 as v"),
              url, "jt", mode="overwrite", driver=drv)
    ps.sql(f"CREATE CATALOG jc PROPERTIES ('type'='jdbc', "
           f"'jdbc_url'='{url}', 'driver'='{drv}')")
    got = sorted((r["k"], r["v"]) for r in ps.sql("SELECT k, v FROM jc.jt").collect())
    assert got == [(0, 0), (1, 10), (2, 20), (3, 30), (4, 40)]
    # remote write visible with no REFRESH
    jdbc_sink(ps.spark.range(2).selectExpr("id + 100 as k", "id as v"),
              url, "jt", mode="append", driver=drv)
    assert ps.sql("SELECT count(*) AS n FROM jc.jt").collect()[0]["n"] == 7
    # a NEW remote table appears after REFRESH
    jdbc_sink(ps.spark.range(3).selectExpr("id as a"), url, "jt2",
              mode="overwrite", driver=drv)
    ps.sql("REFRESH CATALOG jc")
    assert ps.sql("SELECT count(*) AS n FROM jc.jt2").collect()[0]["n"] == 3
    row = ps.sql("SHOW CATALOGS").collect()[0]
    assert (row["catalog_name"], row["type"], row["n_tables"]) == ("jc", "jdbc", 2)
    ps.sql("DROP CATALOG jc")


def test_bare_match_synonym_and_index_follows_loads(ps, tmp_path):
    """Doris's bare MATCH is a synonym of MATCH_ANY (docs: inverted
    index); it routes through the posting index like the long
    spellings, and the index follows UPDATE (partial-load path) and
    delete-sign loads (r9 audit continuation). A column literally
    named `match` must not trip the infix translator."""
    from palo_spark.tables import DELETE_SIGN_COL

    ps.sql("CREATE TABLE mtix (`k` BIGINT, `txt` VARCHAR(100)) UNIQUE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO mtix VALUES (1,'alpha beta'),(2,'gamma delta')")
    ps.sql("CREATE INDEX mtix_i ON mtix (txt) USING INVERTED")
    assert [r["k"] for r in ps.sql("SELECT k FROM mtix WHERE txt MATCH 'alpha'").collect()] == [1]
    assert ps.last_match_indexed is True
    # UPDATE rewrites the text; MATCH must see the new tokens only
    ps.sql("UPDATE mtix SET txt = 'omega psi' WHERE k = 1")
    assert ps.sql("SELECT k FROM mtix WHERE txt MATCH 'alpha'").count() == 0
    assert [r["k"] for r in ps.sql("SELECT k FROM mtix WHERE txt MATCH 'omega'").collect()] == [1]
    # sign-load delete after the required compact: MATCH must not
    # resurrect the deleted key
    t = ps.tables["mtix"]
    t.compact()
    t.insert(ps.spark.createDataFrame(
        [(2, "gamma delta", 1)], f"k long, txt string, {DELETE_SIGN_COL} int"))
    ps._refresh_view("mtix")
    assert ps.sql("SELECT k FROM mtix WHERE txt MATCH 'gamma'").count() == 0
    # identifier named `match` is data, not the predicate
    ps.sql("CREATE TABLE mcol (`k` BIGINT, `match` INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO mcol VALUES (1, 7)")
    assert ps.sql("SELECT `match` FROM mcol").collect()[0]["match"] == 7


def test_async_materialized_view_lifecycle(ps, tmp_path):
    """Doris 2.1 ASYNC materialized views: arbitrary multi-table body
    (the sync rollup form cannot express a join), snapshot semantics
    (stale until REFRESH), BUILD DEFERRED, ON COMMIT auto-refresh,
    catalog-table bodies allowed (explicit-refresh contract), SHOW /
    DROP integration, and exact result-cache invalidation on refresh."""
    ps.sql("CREATE TABLE af (`k` BIGINT, `g` VARCHAR(5), `v` INT) "
           "DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("CREATE TABLE ad (`g` VARCHAR(5), `nm` VARCHAR(10)) "
           "DUPLICATE KEY(g) DISTRIBUTED BY HASH(g) BUCKETS 2")
    ps.sql("INSERT INTO af VALUES (1,'a',10),(2,'b',20),(3,'a',30)")
    ps.sql("INSERT INTO ad VALUES ('a','alpha'),('b','beta')")
    ps.sql("CREATE MATERIALIZED VIEW amv BUILD IMMEDIATE REFRESH COMPLETE "
           "ON MANUAL AS SELECT ad.nm, sum(af.v) AS sv FROM af "
           "JOIN ad ON af.g = ad.g GROUP BY ad.nm")
    got = sorted((r.nm, r.sv) for r in ps.sql("SELECT nm, sv FROM amv").collect())
    assert got == [("alpha", 40), ("beta", 20)]
    # snapshot: stale until refreshed, then current
    ps.sql("INSERT INTO af VALUES (4,'a',100)")
    got = sorted((r.nm, r.sv) for r in ps.sql("SELECT nm, sv FROM amv").collect())
    assert got == [("alpha", 40), ("beta", 20)]
    ps.sql("REFRESH MATERIALIZED VIEW amv")
    got = sorted((r.nm, r.sv) for r in ps.sql("SELECT nm, sv FROM amv").collect())
    assert got == [("alpha", 140), ("beta", 20)]
    # ON COMMIT refreshes with the base-table mutation
    ps.sql("CREATE MATERIALIZED VIEW acmv REFRESH AUTO ON COMMIT AS "
           "SELECT g, count(*) AS n FROM af GROUP BY g")
    ps.sql("INSERT INTO af VALUES (5,'b',1)")
    got = sorted((r.g, r.n) for r in ps.sql("SELECT g, n FROM acmv").collect())
    assert got == [("a", 3), ("b", 2)]
    # BUILD DEFERRED: typed empty until the first refresh
    ps.sql("CREATE MATERIALIZED VIEW admv BUILD DEFERRED REFRESH COMPLETE AS "
           "SELECT count(*) AS n FROM af")
    assert ps.sql("SELECT * FROM admv").count() == 0
    ps.sql("REFRESH MATERIALIZED VIEW admv")
    assert ps.sql("SELECT n FROM admv").collect()[0]["n"] == 5
    # external-catalog body is allowed on the ASYNC form
    root = tmp_path / "amv_ext"
    root.mkdir()
    ps.spark.range(4).selectExpr("id as k", "id*2 as v").write.parquet(
        str(root / "e.parquet"))
    ps.sql(f"CREATE CATALOG aec PROPERTIES ('type'='parquet_dir', 'root'='{root}')")
    ps.sql("CREATE MATERIALIZED VIEW axmv REFRESH COMPLETE AS "
           "SELECT sum(v) AS s FROM aec.e")
    assert ps.sql("SELECT s FROM axmv").collect()[0]["s"] == 12
    rows = {r.mv_name: r.measures for r in ps.sql("SHOW MATERIALIZED VIEWS").collect()}
    assert "amv" in rows and rows["amv"].startswith("async on manual")
    ps.sql("DROP MATERIALIZED VIEW amv")
    with pytest.raises(Exception):
        ps.sql("SELECT * FROM amv").collect()


def test_async_mv_result_cache_invalidates_on_refresh(spark, tmp_path):
    """The cache key carries the async MV's refresh token: a REFRESH
    invalidates cached queries over the snapshot exactly; a view over
    the MV bypasses the cache (name-hiding rule)."""
    from palo_spark.palo_session import PaloSession

    ps = PaloSession(spark, location_root=str(tmp_path / "loc"),
                     result_cache=True)
    ps.sql("CREATE TABLE cb (`k` BIGINT, `v` INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO cb VALUES (1, 10)")
    ps.sql("CREATE MATERIALIZED VIEW cmv2 REFRESH COMPLETE AS "
           "SELECT sum(v) AS s FROM cb")
    assert ps.sql("SELECT s FROM cmv2").collect()[0]["s"] == 10
    assert ps.sql("SELECT s FROM cmv2").collect()[0]["s"] == 10
    assert ps.last_cache_hit is True  # cached while the snapshot is live
    ps.sql("INSERT INTO cb VALUES (2, 90)")
    ps.sql("REFRESH MATERIALIZED VIEW cmv2")
    assert ps.sql("SELECT s FROM cmv2").collect()[0]["s"] == 100
    assert ps.last_cache_hit is False  # token bumped → no stale hit
    # a view over the MV bypasses the cache entirely
    ps.sql("CREATE VIEW vcm AS SELECT s FROM cmv2")
    assert ps.sql("SELECT * FROM vcm").collect()[0]["s"] == 100
    ps.sql("INSERT INTO cb VALUES (3, 900)")
    ps.sql("REFRESH MATERIALIZED VIEW cmv2")
    assert ps.sql("SELECT * FROM vcm").collect()[0]["s"] == 1000
    assert ps.last_cache_hit is False


def test_async_mv_name_cannot_be_shadowed(ps):
    """r9 audit: CREATE TABLE / CTAS / CREATE TABLE LIKE / CREATE VIEW
    under a live async MV's name would silently shadow its snapshot
    view (and the next REFRESH would shadow the new object right back)
    — all four are rejected. Base-drop behavior pinned: the snapshot
    keeps serving, REFRESH surfaces the missing base, and a recreated
    base makes REFRESH work again."""
    ps.sql("CREATE TABLE sb (`k` BIGINT, `v` INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO sb VALUES (1, 10)")
    ps.sql("CREATE MATERIALIZED VIEW smv REFRESH COMPLETE AS "
           "SELECT sum(v) AS s FROM sb")
    for stmt in (
        "CREATE TABLE smv (`k` BIGINT) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2",
        "CREATE TABLE smv AS SELECT 1 AS x",
        "CREATE TABLE smv LIKE sb",
        "CREATE VIEW smv AS SELECT 1 AS x",
    ):
        with pytest.raises(ValueError, match="async materialized view"):
            ps.sql(stmt)
    # base lifecycle: snapshot survives a base DROP; REFRESH surfaces it
    ps.sql("DROP TABLE sb")
    assert ps.sql("SELECT s FROM smv").collect()[0]["s"] == 10
    with pytest.raises(Exception, match="sb"):
        ps.sql("REFRESH MATERIALIZED VIEW smv")
    ps.sql("CREATE TABLE sb (`k` BIGINT, `v` INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO sb VALUES (9, 500)")
    ps.sql("REFRESH MATERIALIZED VIEW smv")
    assert ps.sql("SELECT s FROM smv").collect()[0]["s"] == 500


def test_result_cache_keyed_by_session_time_zone(spark, tmp_path):
    """r9 audit (wrong-answer repro): a result cached under one session
    time zone must not serve after SET time_zone — identical query text
    renders timestamps differently per TZ, so the TZ is part of the
    cache key."""
    from palo_spark.palo_session import PaloSession

    ps = PaloSession(spark, location_root=str(tmp_path / "loc"),
                     result_cache=True)
    saved = ps.spark.conf.get("spark.sql.session.timeZone")
    try:
        ps.sql("CREATE TABLE tzc (`k` BIGINT, `ts` DATETIME) DUPLICATE KEY(k) "
               "DISTRIBUTED BY HASH(k) BUCKETS 2")
        ps.sql("SET time_zone = 'UTC'")
        ps.sql("INSERT INTO tzc VALUES (1, '2024-01-01 00:30:00')")
        q = "SELECT date_format(ts, '%Y-%m-%d %H:%i') AS d FROM tzc"
        assert ps.sql(q).collect()[0]["d"] == "2024-01-01 00:30"
        assert ps.sql(q).collect()[0]["d"] == "2024-01-01 00:30"
        assert ps.last_cache_hit is True  # same TZ → cache serves
        ps.sql("SET time_zone = 'Asia/Shanghai'")
        assert ps.sql(q).collect()[0]["d"] == "2024-01-01 08:30"
        assert ps.last_cache_hit is False  # TZ changed → key missed
        ps.sql("SET time_zone = 'UTC'")
        assert ps.sql(q).collect()[0]["d"] == "2024-01-01 00:30"
        assert ps.last_cache_hit is True  # back to TZ A → original entry
    finally:
        ps.spark.conf.set("spark.sql.session.timeZone", saved)


def test_show_partitions_and_show_create_mv(ps):
    """Doris SHOW PARTITIONS FROM t (live labels, metadata-only) and
    SHOW CREATE MATERIALIZED VIEW (round-trippable for async MVs;
    derived form for sync rollups)."""
    ps.sql("CREATE TABLE spt (`d` DATETIME, `k` BIGINT, `v` INT) "
           "DUPLICATE KEY(d, k) "
           "AUTO PARTITION BY RANGE (date_trunc(`d`, 'day')) () "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO spt VALUES ('2024-01-01 10:00:00', 1, 5), "
           "('2024-01-02 09:00:00', 2, 7)")
    rows = ps.sql("SHOW PARTITIONS FROM spt").collect()
    assert sorted(r["partition_name"] for r in rows) == ["d2024-01-01", "d2024-01-02"]
    assert rows[0]["partition_key"] == "d"
    with pytest.raises(ValueError, match="not partitioned"):
        ps.sql("CREATE TABLE nop (`k` BIGINT) DUPLICATE KEY(k) "
               "DISTRIBUTED BY HASH(k) BUCKETS 2")
        ps.sql("SHOW PARTITIONS FROM nop")
    # async MV: the statement round-trips
    ps.sql("INSERT INTO nop VALUES (1)")
    ps.sql("CREATE MATERIALIZED VIEW scmv REFRESH COMPLETE AS "
           "SELECT count(*) AS n FROM nop")
    stmt = ps.sql("SHOW CREATE MATERIALIZED VIEW scmv").collect()[0]["create_stmt"]
    ps.sql("DROP MATERIALIZED VIEW scmv")
    ps.sql(stmt)  # re-executing the emitted statement recreates it
    assert ps.sql("SELECT n FROM scmv").collect()[0]["n"] == 1
    with pytest.raises(ValueError, match="unknown materialized view"):
        ps.sql("SHOW CREATE MATERIALIZED VIEW nosuch")


def test_result_cache_sees_through_views(spark, tmp_path):
    """r9 audit (two wrong-answer repros): a view name must not hide
    (a) its base tables — a base mutation has to invalidate cached
    queries over the view — nor (b) its own definition — CREATE OR
    REPLACE VIEW has to invalidate. The cache key is built from the
    transitive view-body expansion."""
    from palo_spark.palo_session import PaloSession

    ps = PaloSession(spark, location_root=str(tmp_path / "loc"),
                     result_cache=True)
    ps.sql("CREATE TABLE vb (`k` BIGINT, `v` INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO vb VALUES (1, 10)")
    ps.sql("CREATE VIEW vv AS SELECT sum(v) AS s FROM vb")
    assert ps.sql("SELECT s FROM vv").collect()[0]["s"] == 10
    assert ps.sql("SELECT s FROM vv").collect()[0]["s"] == 10
    assert ps.last_cache_hit is True
    # (a) base mutation invalidates through the view
    ps.sql("INSERT INTO vb VALUES (2, 90)")
    assert ps.sql("SELECT s FROM vv").collect()[0]["s"] == 100
    assert ps.last_cache_hit is False
    # (b) view replacement invalidates
    ps.sql("CREATE VIEW vv AS SELECT sum(v) * 2 AS s FROM vb")
    assert ps.sql("SELECT s FROM vv").collect()[0]["s"] == 200
    assert ps.last_cache_hit is False
    # nested: view over view — the base mutation still reaches the key
    ps.sql("CREATE VIEW vv2 AS SELECT s + 1 AS s1 FROM vv")
    assert ps.sql("SELECT s1 FROM vv2").collect()[0]["s1"] == 201
    ps.sql("INSERT INTO vb VALUES (3, 900)")
    assert ps.sql("SELECT s1 FROM vv2").collect()[0]["s1"] == 2001
    assert ps.last_cache_hit is False


def test_result_cache_drop_recreate_cannot_collide(spark, tmp_path):
    """r9 audit (wrong-answer repro): a dropped-and-recreated table
    restarted its mutation counter, colliding with the OLD table's
    cached entries (the old count served against the new table). The
    state token now carries the creation lineage nonce."""
    from palo_spark.palo_session import PaloSession

    ps = PaloSession(spark, location_root=str(tmp_path / "loc"),
                     result_cache=True)
    ps.sql("CREATE TABLE dr (`k` BIGINT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO dr VALUES (1),(2)")
    q = "SELECT count(*) AS n FROM dr"
    assert ps.sql(q).collect()[0]["n"] == 2
    assert ps.sql(q).collect()[0]["n"] == 2
    assert ps.last_cache_hit is True
    ps.sql("DROP TABLE dr")
    ps.sql("CREATE TABLE dr (`k` BIGINT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO dr VALUES (9)")
    assert ps.sql(q).collect()[0]["n"] == 1
    assert ps.last_cache_hit is False


def test_export_follows_partitions_and_rename(ps, tmp_path):
    """r9 audit pin (no defect found): EXPORT prunes to the selected
    partition, follows ALTER TABLE RENAME, excludes dropped partitions,
    and an unknown partition label exports an empty (but readable)
    dataset."""
    ps.sql("CREATE TABLE exp (`d` DATETIME, `k` BIGINT, `v` INT) "
           "DUPLICATE KEY(d, k) "
           "AUTO PARTITION BY RANGE (date_trunc(`d`, 'day')) () "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO exp VALUES ('2024-01-01 10:00:00', 1, 5), "
           "('2024-01-02 09:00:00', 2, 7)")
    out = tmp_path / "exp_out"
    ps.sql(f"EXPORT TABLE exp PARTITION (d2024-01-01) TO '{out}/p1'")
    assert ps.spark.read.parquet(f"{out}/p1").count() == 1
    ps.sql("ALTER TABLE exp RENAME exp2")
    ps.sql(f"EXPORT TABLE exp2 TO '{out}/all'")
    assert ps.spark.read.parquet(f"{out}/all").count() == 2
    ps.tables["exp2"].drop_partition("d2024-01-01")
    ps._refresh_view("exp2")
    ps.sql(f"EXPORT TABLE exp2 TO '{out}/rest'")
    assert ps.spark.read.parquet(f"{out}/rest").count() == 1
    ps.sql(f"EXPORT TABLE exp2 PARTITION (d2099-01-01) TO '{out}/none'")
    assert ps.spark.read.parquet(f"{out}/none").count() == 0


def test_async_mv_on_commit_sees_through_views(ps):
    """r9 judge finding: an ON COMMIT async MV defined over a session
    VIEW must refresh when the view's BASE table mutates (the trigger
    set is resolved through _expand_view_refs, not a flat table-name
    regex), and a REPLACED view re-binds the trigger set to its new
    bases at the next commit."""
    ps.sql("CREATE TABLE vb1 (`k` BIGINT, `v` INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("CREATE TABLE vb2 (`k` BIGINT, `v` INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO vb1 VALUES (1, 10)")
    ps.sql("INSERT INTO vb2 VALUES (1, 1000)")
    ps.sql("CREATE VIEW vind AS SELECT v FROM vb1")
    ps.sql("CREATE MATERIALIZED VIEW vmv REFRESH AUTO ON COMMIT AS "
           "SELECT sum(v) AS s FROM vind")
    assert ps.sql("SELECT s FROM vmv").collect()[0]["s"] == 10
    # base-table INSERT reaches the MV through the view
    ps.sql("INSERT INTO vb1 VALUES (2, 20)")
    assert ps.sql("SELECT s FROM vmv").collect()[0]["s"] == 30
    # replace the view to read vb2: the NEXT commit on vb2 re-binds
    ps.sql("ALTER VIEW vind AS SELECT v FROM vb2")
    ps.sql("INSERT INTO vb2 VALUES (2, 2000)")
    assert ps.sql("SELECT s FROM vmv").collect()[0]["s"] == 3000
    # ...and vb1 no longer triggers a refresh (trigger set re-bound)
    tok = ps.async_mvs["vmv"]["token"]
    ps.sql("INSERT INTO vb1 VALUES (3, 30)")
    assert ps.async_mvs["vmv"]["token"] == tok


def test_async_mv_drop_recreate_no_stale_cache(spark, tmp_path):
    """ADVICE r9: the cache key was (name, token) and DROP + CREATE
    restarts the token, so a cached SELECT over the OLD MV replayed for
    a NEW same-named MV with a different body. The creation nonce in
    the key closes it."""
    from palo_spark.palo_session import PaloSession

    ps = PaloSession(spark, location_root=str(tmp_path / "loc"),
                     result_cache=True)
    ps.sql("CREATE TABLE ncb (`k` BIGINT, `v` INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO ncb VALUES (1, 10), (2, 20)")
    ps.sql("CREATE MATERIALIZED VIEW nmv REFRESH COMPLETE AS "
           "SELECT sum(v) AS s FROM ncb")
    assert ps.sql("SELECT s FROM nmv").collect()[0]["s"] == 30
    assert ps.sql("SELECT s FROM nmv").collect()[0]["s"] == 30
    assert ps.last_cache_hit is True
    ps.sql("DROP MATERIALIZED VIEW nmv")
    ps.sql("CREATE MATERIALIZED VIEW nmv REFRESH COMPLETE AS "
           "SELECT min(v) AS s FROM ncb")  # same name, DIFFERENT body
    assert ps.sql("SELECT s FROM nmv").collect()[0]["s"] == 10
    assert ps.last_cache_hit is False


def test_truncate_triggers_on_commit_async_mv(ps):
    """ADVICE r9: TRUNCATE TABLE re-registers the empty view itself and
    never went through _refresh_view, so ON COMMIT async MVs kept
    serving pre-truncate aggregates indefinitely."""
    ps.sql("CREATE TABLE trb (`k` BIGINT, `v` INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO trb VALUES (1, 10), (2, 20)")
    ps.sql("CREATE MATERIALIZED VIEW trmv REFRESH AUTO ON COMMIT AS "
           "SELECT count(*) AS n, coalesce(sum(v), 0) AS s FROM trb")
    r = ps.sql("SELECT n, s FROM trmv").collect()[0]
    assert (r["n"], r["s"]) == (2, 30)
    ps.sql("TRUNCATE TABLE trb")
    r = ps.sql("SELECT n, s FROM trmv").collect()[0]
    assert (r["n"], r["s"]) == (0, 0)


def test_drop_partition_keeps_sign_flag_for_legacy_rowsets(ps):
    """ADVICE r9: drop_partition recomputed has_delete_sign from the
    per-rowset 'sign' flag with no fallback for rowset metadata
    persisted by older builds — one drop cleared the flag while
    sign-carrying legacy rowsets survived, resurfacing batch-deleted
    keys. Missing 'sign' keys are now treated conservatively."""
    from palo_spark.tables import DELETE_SIGN_COL

    ps.sql("CREATE TABLE lgp (`d` DATETIME, `k` BIGINT, `v` INT) "
           "UNIQUE KEY(d, k) "
           "AUTO PARTITION BY RANGE (date_trunc(`d`, 'day')) () "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO lgp VALUES ('2024-01-01 10:00:00', 1, 5), "
           "('2024-01-02 09:00:00', 2, 7), ('2024-01-02 10:00:00', 3, 9)")
    t = ps.tables["lgp"]
    # sign-load deletes k=3 (lives in the d2024-01-02 partition)
    t.insert(ps.spark.createDataFrame(
        [("2024-01-02 10:00:00", 3, 9, 1)],
        f"d string, k long, v int, {DELETE_SIGN_COL} int"))
    assert t.meta.has_delete_sign is True
    # simulate a legacy on-disk meta: the sign flag predates per-rowset
    # 'sign' metadata
    for r in t.meta.rowsets:
        r.pop("sign", None)
    t._save_meta()
    t.drop_partition("d2024-01-01")
    # conservative: survivors lack explicit sign metadata → flag kept,
    # and the batch-deleted key stays deleted
    assert t.meta.has_delete_sign is True
    ps._refresh_view("lgp")
    assert ps.sql("SELECT k FROM lgp WHERE k = 3").count() == 0


def test_async_mv_transparent_rewrite(ps):
    """Doris 2.1 Nereids transparent rewrite onto async MVs
    [docs: async-materialized-view]: a derivable query silently scans
    a FRESH snapshot (plan provably reads the MV parquet, not the base
    join); a STALE snapshot never rewrites (falls back to bases, fresh
    answer); REFRESH re-arms it; SET enable_materialized_view_rewrite
    = false disables it."""
    ps.sql("CREATE TABLE rwb (`k` BIGINT, `g` VARCHAR(5), `v` INT) "
           "DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO rwb VALUES (1,'a',10),(2,'b',20),(3,'a',30)")
    ps.sql("CREATE MATERIALIZED VIEW rwmv BUILD IMMEDIATE REFRESH COMPLETE "
           "ON MANUAL AS SELECT g, sum(v) AS sum_v, count(*) AS cnt "
           "FROM rwb GROUP BY g")
    # exact-body match → snapshot scan
    df = ps.sql("SELECT g, sum(v) AS sum_v, count(*) AS cnt FROM rwb GROUP BY g")
    assert ps.last_mv_rewrite == "rwmv"
    # the plan is ONE parquet scan of the snapshot — no aggregate, no
    # exchange, no scan of the base table's rowsets
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    assert "HashAggregate" not in plan and "Exchange" not in plan
    assert sorted((r.g, r.sum_v, r.cnt) for r in df.collect()) == [
        ("a", 40, 2), ("b", 20, 1)]
    # group-by-coverage: coarser re-aggregate (global) + filtered derivation
    df = ps.sql("SELECT g, sum(v) AS s FROM rwb WHERE g = 'a' GROUP BY g")
    assert ps.last_mv_rewrite == "rwmv"
    assert [(r.g, r.s) for r in df.collect()] == [("a", 40)]
    # COUNT(*) derives as SUM of the stored count
    df = ps.sql("SELECT g, count(*) AS n FROM rwb GROUP BY g")
    assert ps.last_mv_rewrite == "rwmv"
    assert sorted((r.g, r.n) for r in df.collect()) == [("a", 2), ("b", 1)]
    # stale snapshot: base mutated → NO rewrite, the answer is fresh
    ps.sql("INSERT INTO rwb VALUES (4,'a',100)")
    df = ps.sql("SELECT g, sum(v) AS sum_v, count(*) AS cnt FROM rwb GROUP BY g")
    assert ps.last_mv_rewrite is None
    assert sorted((r.g, r.sum_v, r.cnt) for r in df.collect()) == [
        ("a", 140, 3), ("b", 20, 1)]
    # REFRESH re-arms the rewrite
    ps.sql("REFRESH MATERIALIZED VIEW rwmv")
    df = ps.sql("SELECT g, sum(v) AS sum_v, count(*) AS cnt FROM rwb GROUP BY g")
    assert ps.last_mv_rewrite == "rwmv"
    assert sorted((r.g, r.sum_v, r.cnt) for r in df.collect()) == [
        ("a", 140, 3), ("b", 20, 1)]
    # session toggle
    ps.sql("SET enable_materialized_view_rewrite = false")
    ps.sql("SELECT g, sum(v) AS sum_v FROM rwb GROUP BY g")
    assert ps.last_mv_rewrite is None
    ps.sql("SET enable_materialized_view_rewrite = true")
    # a NON-derivable aggregate (min not stored) falls back to base
    df = ps.sql("SELECT g, min(v) AS mn FROM rwb GROUP BY g")
    assert ps.last_mv_rewrite is None
    assert sorted((r.g, r.mn) for r in df.collect()) == [("a", 10), ("b", 20)]
    # AVG derives from a stored SUM + COUNT(col) pair (r11): the MV
    # above stores sum_v + count(*) only — count(*) is NOT the
    # null-aware count AVG needs, so no rewrite yet
    df = ps.sql("SELECT g, avg(v) AS av FROM rwb GROUP BY g")
    assert ps.last_mv_rewrite is None
    ps.sql("CREATE MATERIALIZED VIEW rwmv2 BUILD IMMEDIATE REFRESH "
           "COMPLETE ON MANUAL AS SELECT g, sum(v) AS sv, count(v) AS cv "
           "FROM rwb GROUP BY g")
    df = ps.sql("SELECT g, avg(v) AS av FROM rwb GROUP BY g")
    assert ps.last_mv_rewrite == "rwmv2"
    assert sorted((r.g, r.av) for r in df.collect()) == [
        ("a", 140 / 3), ("b", 20.0)]
    # NULLs in the measure: stored count(v) keeps AVG exact
    ps.sql("INSERT INTO rwb VALUES (5,'b',NULL)")
    ps.sql("REFRESH MATERIALIZED VIEW rwmv2")
    df = ps.sql("SELECT g, avg(v) AS av FROM rwb GROUP BY g")
    assert ps.last_mv_rewrite == "rwmv2"
    assert sorted((r.g, r.av) for r in df.collect()) == [
        ("a", 140 / 3), ("b", 20.0)]
    # a SYNC rollup MV refuses to store AVG, pointing at the pair
    import pytest as _pt

    with _pt.raises(ValueError, match="SUM"):
        ps.sql("CREATE MATERIALIZED VIEW badavg AS "
               "SELECT g, avg(v) AS av FROM rwb GROUP BY g")


def test_async_mv_rewrite_never_unprovable(ps, tmp_path):
    """The rewrite freshness gate returns 'never provably fresh' for
    MV bodies over external catalogs (no mutation ledger) and bodies
    over other async MVs (refresh outside the table-token space) —
    those snapshots stay explicit-query-only."""
    root = tmp_path / "rwx"
    root.mkdir()
    ps.spark.range(4).selectExpr("id as k", "id*2 as v").write.parquet(
        str(root / "e.parquet"))
    ps.sql(f"CREATE CATALOG rwc PROPERTIES ('type'='parquet_dir', 'root'='{root}')")
    ps.sql("CREATE MATERIALIZED VIEW xmv REFRESH COMPLETE AS "
           "SELECT sum(v) AS s FROM rwc.e")
    # identical query text must NOT silently serve the snapshot: the
    # catalog files can change without a token bump
    ps.sql("SELECT sum(v) AS s FROM rwc.e")
    assert ps.last_mv_rewrite is None
    # MV over an MV: the outer body's freshness is unprovable
    ps.sql("CREATE TABLE rwt (`k` BIGINT, `v` INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO rwt VALUES (1, 5)")
    ps.sql("CREATE MATERIALIZED VIEW imv REFRESH COMPLETE AS "
           "SELECT k, sum(v) AS sv FROM rwt GROUP BY k")
    ps.sql("CREATE MATERIALIZED VIEW omv REFRESH COMPLETE AS "
           "SELECT sum(sv) AS t FROM imv")
    ps.sql("SELECT sum(sv) AS t FROM imv")
    assert ps.last_mv_rewrite is None


def test_async_mv_rewrite_adversarial_edges(ps):
    """r10 self-audit of the transparent rewrite's freshness gate:
    base-table RENAME makes the snapshot unprovable (no rewrite);
    recreating a table under the body's name does NOT revive it
    (lineage differs); a DEFERRED (unbuilt) MV never rewrites; an
    ORDER BY body is never exact-matched (parquet snapshots do not
    preserve order); a WHERE'd body still exact-matches."""
    ps.sql("CREATE TABLE adv (k BIGINT, g VARCHAR(4), v INT) "
           "DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO adv VALUES (1,'a',10),(2,'b',20)")
    ps.sql("CREATE MATERIALIZED VIEW advmv REFRESH COMPLETE AS "
           "SELECT g, sum(v) AS sv FROM adv GROUP BY g")
    ps.sql("SELECT g, sum(v) AS sv FROM adv GROUP BY g")
    assert ps.last_mv_rewrite == "advmv"
    # base rename: the body's table no longer exists → never rewrite
    ps.sql("ALTER TABLE adv RENAME adv2")
    ps.sql("CREATE TABLE adv (k BIGINT, g VARCHAR(4), v INT) "
           "DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO adv VALUES (9,'z',999)")
    # same query text, but `adv` is now a DIFFERENT table: the old
    # snapshot must not serve (lineage mismatch in the state)
    df = ps.sql("SELECT g, sum(v) AS sv FROM adv GROUP BY g")
    assert ps.last_mv_rewrite is None
    assert [(r.g, r.sv) for r in df.collect()] == [("z", 999)]
    # DEFERRED MV: unbuilt snapshots never rewrite
    ps.sql("CREATE MATERIALIZED VIEW defmv BUILD DEFERRED REFRESH "
           "COMPLETE AS SELECT g, count(*) AS n FROM adv GROUP BY g")
    ps.sql("SELECT g, count(*) AS n FROM adv GROUP BY g")
    assert ps.last_mv_rewrite is None
    # ORDER BY body: rows would come back unordered from the parquet
    # snapshot — exact match is refused, the base path serves ordered
    ps.sql("CREATE MATERIALIZED VIEW ordmv REFRESH COMPLETE AS "
           "SELECT k, v FROM adv ORDER BY v DESC")
    df = ps.sql("SELECT k, v FROM adv ORDER BY v DESC")
    assert ps.last_mv_rewrite is None
    # WHERE'd body exact-matches (no ordering at stake)
    ps.sql("INSERT INTO adv VALUES (10,'z',1)")
    ps.sql("CREATE MATERIALIZED VIEW whmv REFRESH COMPLETE AS "
           "SELECT g, sum(v) AS sv FROM adv WHERE v > 5 GROUP BY g")
    df = ps.sql("SELECT g, sum(v) AS sv FROM adv WHERE v > 5 GROUP BY g")
    assert ps.last_mv_rewrite == "whmv"
    assert [(r.g, r.sv) for r in df.collect()] == [("z", 999)]


def test_backup_restore_snapshot(ps, tmp_path):
    """Doris BACKUP/RESTORE (repository-lite, [docs: data-admin
    backup/restore]): a snapshot captures the table state AT BACKUP
    TIME (rowsets + meta: deletes, delete-sign, schema changes); a
    restore rebases it as an independent table with a fresh lineage;
    labels are one-shot; restore onto a live table is in-place; DROP
    REPOSITORY keeps the backed-up files."""
    from palo_spark.tables import DELETE_SIGN_COL

    ps.sql("CREATE TABLE bt (k BIGINT, v INT) UNIQUE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO bt VALUES (1, 10), (2, 20), (3, 30)")
    ps.sql("DELETE FROM bt WHERE k = 2")
    t = ps.tables["bt"]
    t.insert(ps.spark.createDataFrame(
        [(3, 30, 1)], f"k long, v int, {DELETE_SIGN_COL} int"))
    ps.sql("ALTER TABLE bt ADD COLUMN w INT DEFAULT '5'")
    ps.sql(f"CREATE REPOSITORY r1 WITH LOCATION '{tmp_path}/repo'")
    ps.sql("BACKUP SNAPSHOT s1 TO r1 ON (bt)")
    # post-backup mutations must NOT leak into the snapshot
    ps.sql("INSERT INTO bt (k, v, w) VALUES (9, 90, 9)")
    ps.sql("UPDATE bt SET v = 1000 WHERE k = 1")
    ps.sql("RESTORE SNAPSHOT s1 FROM r1 ON (bt AS bt2)")
    rows = {r["k"]: (r["v"], r["w"])
            for r in ps.sql("SELECT k, v, w FROM bt2").collect()}
    # delete + delete-sign + added column all captured; mutations not
    assert rows == {1: (10, 5)}, rows
    # independence both ways
    ps.sql("INSERT INTO bt2 (k, v, w) VALUES (7, 70, 7)")
    assert ps.sql("SELECT count(*) AS n FROM bt").collect()[0]["n"] == 2
    assert ps.tables["bt2"].meta.lineage != ps.tables["bt"].meta.lineage
    # one-shot labels; SHOW lists the snapshot
    with pytest.raises(ValueError, match="already exists"):
        ps.sql("BACKUP SNAPSHOT s1 TO r1 ON (bt)")
    # restore onto the LIVE name is the in-place form: snapshot state
    # replaces the table (post-backup mutations vanish)
    ps.sql("RESTORE SNAPSHOT s1 FROM r1 ON (bt)")
    assert ps.sql("SELECT count(*) AS n FROM bt").collect()[0]["n"] == 1
    got = ps.sql("SHOW SNAPSHOT ON r1").collect()
    assert [(r["snapshot"], r["tables"]) for r in got] == [("s1", "bt")]
    # DROP REPOSITORY drops the reference, not the data
    ps.sql("DROP REPOSITORY r1")
    ps.sql(f"CREATE REPOSITORY r2 WITH LOCATION '{tmp_path}/repo'")
    ps.sql("RESTORE SNAPSHOT s1 FROM r2 ON (bt AS bt3)")
    assert ps.sql("SELECT count(*) AS n FROM bt3").collect()[0]["n"] == 1


def test_backup_restore_multi_table_and_variant(ps, tmp_path):
    """Multi-table snapshot; restored tables keep typed VALUES inserts
    (declared schema) and VARIANT subscript rewriting (manifest
    carries the session-runtime attrs meta alone cannot recover)."""
    ps.sql("CREATE TABLE m1 (k BIGINT, props VARIANT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("CREATE TABLE m2 (k BIGINT, v INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("""INSERT INTO m1 VALUES (1, '{"a": 4}')""")
    ps.sql("INSERT INTO m2 VALUES (1, 10)")
    ps.sql(f"CREATE REPOSITORY mr WITH LOCATION '{tmp_path}/mrepo'")
    ps.sql("BACKUP SNAPSHOT ms TO mr ON (m1, m2)")
    ps.sql("RESTORE SNAPSHOT ms FROM mr ON (m1 AS n1, m2 AS n2)")
    assert ps.sql("SELECT CAST(props['a'] AS INT) AS a FROM n1"
                  ).collect()[0]["a"] == 4
    ps.sql("""INSERT INTO n1 VALUES (2, '{"a": 6}')""")  # typed VALUES
    assert ps.sql("SELECT sum(CAST(props['a'] AS INT)) AS s FROM n1"
                  ).collect()[0]["s"] == 10
    assert ps.sql("SELECT v FROM n2").collect()[0]["v"] == 10


def test_backup_restore_lifecycle_audit(ps, tmp_path):
    """r10 backup/restore audit pins: auto-partition roundtrip with
    independent drop_partition; truncate-after-backup isolation; double
    restore independence; restore under the ORIGINAL name after DROP
    TABLE (the dropped table's directory still occupies the default
    location — restore lands beside it and the result cache keys on
    the fresh lineage); schema-change history fidelity."""
    ps.sql(f"CREATE REPOSITORY lr WITH LOCATION '{tmp_path}/lrepo'")
    # auto-partition
    ps.sql("CREATE TABLE lap (d DATETIME, k BIGINT, v INT) "
           "DUPLICATE KEY(d, k) "
           "AUTO PARTITION BY RANGE (date_trunc(`d`, 'day')) () "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO lap VALUES ('2024-01-01 10:00:00', 1, 5), "
           "('2024-01-02 09:00:00', 2, 7)")
    ps.sql("BACKUP SNAPSHOT lb1 TO lr ON (lap)")
    ps.sql("RESTORE SNAPSHOT lb1 FROM lr ON (lap AS lap2)")
    t2 = ps.tables["lap2"]
    assert t2.partitions() == ["d2024-01-01", "d2024-01-02"]
    t2.drop_partition("d2024-01-01")
    ps._refresh_view("lap2")
    assert [r["k"] for r in ps.sql("SELECT k FROM lap2").collect()] == [2]
    assert ps.tables["lap"].partitions() == ["d2024-01-01", "d2024-01-02"]
    # restore under the original name after DROP (dir still on disk)
    ps.sql("CREATE TABLE lct (k BIGINT, v INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO lct VALUES (1, 10)")
    ps.sql("BACKUP SNAPSHOT lb2 TO lr ON (lct)")
    ps.sql("DROP TABLE lct")
    ps.sql("RESTORE SNAPSHOT lb2 FROM lr ON (lct)")
    ps.sql("INSERT INTO lct VALUES (2, 90)")
    assert ps.sql("SELECT sum(v) AS s FROM lct").collect()[0]["s"] == 100
    # schema-change history fidelity
    ps.sql("CREATE TABLE lsc (k BIGINT, a INT, b INT) UNIQUE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO lsc VALUES (1, 1, 2)")
    ps.sql("ALTER TABLE lsc RENAME COLUMN a a2")
    ps.sql("ALTER TABLE lsc DROP COLUMN b")
    ps.sql("INSERT INTO lsc (k, a2) VALUES (2, 5)")
    ps.sql("BACKUP SNAPSHOT lb3 TO lr ON (lsc)")
    ps.sql("RESTORE SNAPSHOT lb3 FROM lr ON (lsc AS lsc2)")
    rows = {r["k"]: r["a2"] for r in ps.sql("SELECT k, a2 FROM lsc2").collect()}
    assert rows == {1: 1, 2: 5}
    assert "b" not in ps.sql("SELECT * FROM lsc2").columns


def test_async_mv_partition_incremental_refresh(ps):
    """Doris 2.1 partition-incremental async-MV refresh ([docs:
    async-materialized-view] partition refresh): a REFRESH AUTO MV
    whose body aligns with an auto-partitioned base recomputes ONLY
    the changed partitions — pinned physically: the unchanged
    partition's slice files are untouched across a refresh. Dropped
    base partitions drop their slices. REFRESH COMPLETE on the same
    shape stays a full recompute."""
    import os

    ps.sql("CREATE TABLE pe (d DATETIME, k BIGINT, g VARCHAR(4), v INT) "
           "DUPLICATE KEY(d, k) "
           "AUTO PARTITION BY RANGE (date_trunc(`d`, 'day')) () "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO pe VALUES ('2024-01-01 01:00:00', 1, 'a', 10), "
           "('2024-01-01 02:00:00', 2, 'b', 20), "
           "('2024-01-02 01:00:00', 3, 'a', 30)")
    ps.sql("CREATE MATERIALIZED VIEW pmv BUILD IMMEDIATE REFRESH AUTO "
           "ON MANUAL AS SELECT g, sum(v) AS sv, count(*) AS n "
           "FROM pe GROUP BY g")
    mv = ps.async_mvs["pmv"]
    assert mv["part_versions"] == {"d2024-01-01": 1, "d2024-01-02": 1}
    got = sorted((r.g, r.sv, r.n)
                 for r in ps.sql("SELECT g, sv, n FROM pmv").collect())
    assert got == [("a", 40, 2), ("b", 20, 1)]
    p1 = os.path.join(mv["path"] + "_parts", "__mv_part=d2024-01-01")
    stamp = sorted(os.listdir(p1))
    mt = {f: os.path.getmtime(os.path.join(p1, f)) for f in stamp}
    # mutate ONLY day 2 → refresh recomputes only that slice
    ps.sql("INSERT INTO pe VALUES ('2024-01-02 03:00:00', 4, 'b', 40)")
    ps.sql("REFRESH MATERIALIZED VIEW pmv")
    got = sorted((r.g, r.sv, r.n)
                 for r in ps.sql("SELECT g, sv, n FROM pmv").collect())
    assert got == [("a", 40, 2), ("b", 60, 2)]
    assert sorted(os.listdir(p1)) == stamp
    assert all(os.path.getmtime(os.path.join(p1, f)) == mt[f] for f in stamp)
    # the merged view stays transparent-rewrite eligible
    ps.sql("SELECT g, sum(v) AS sv, count(*) AS n FROM pe GROUP BY g")
    assert ps.last_mv_rewrite == "pmv"
    # dropped base partition drops its slice
    ps.tables["pe"].drop_partition("d2024-01-01")
    ps._refresh_view("pe")
    ps.sql("REFRESH MATERIALIZED VIEW pmv")
    got = sorted((r.g, r.sv, r.n)
                 for r in ps.sql("SELECT g, sv, n FROM pmv").collect())
    assert got == [("a", 30, 1), ("b", 40, 1)]
    assert not os.path.isdir(p1)
    # schema change forces a consistent full rebuild (no mixed slices)
    ps.sql("ALTER TABLE pe ADD COLUMN w INT DEFAULT '2'")
    ps.sql("INSERT INTO pe (d, k, g, v, w) "
           "VALUES ('2024-01-03 01:00:00', 9, 'a', 1, 3)")
    ps.sql("REFRESH MATERIALIZED VIEW pmv")
    got = sorted((r.g, r.sv, r.n)
                 for r in ps.sql("SELECT g, sv, n FROM pmv").collect())
    assert got == [("a", 31, 2), ("b", 40, 1)]
    # MIN/MAX aggregates merge correctly across slices
    ps.sql("CREATE MATERIALIZED VIEW pmm BUILD IMMEDIATE REFRESH AUTO "
           "ON COMMIT AS SELECT g, min(v) AS mn, max(v) AS mx "
           "FROM pe GROUP BY g")
    ps.sql("INSERT INTO pe (d, k, g, v, w) "
           "VALUES ('2024-01-04 01:00:00', 10, 'a', 500, 1)")
    got = sorted((r.g, r.mn, r.mx)
                 for r in ps.sql("SELECT g, mn, mx FROM pmm").collect())
    assert got == [("a", 1, 500), ("b", 40, 40)]
    # COMPLETE mode on the same aligned shape: full recompute, correct
    ps.sql("CREATE MATERIALIZED VIEW pfc BUILD IMMEDIATE REFRESH COMPLETE "
           "ON MANUAL AS SELECT g, sum(v) AS sv FROM pe GROUP BY g")
    assert ps.async_mvs["pfc"].get("part_versions") is None


def test_async_mv_incremental_vs_mutations(ps):
    """r10 audit pins: the partition-incremental path stays correct
    under DELETE (conservative all-partition staleness), compact()
    (one new all-partition rowset), TRUNCATE (slices all dropped, MV
    empty), post-truncate repopulation, and UNIQUE-model upserts
    (merge-on-read inside the recomputed slice)."""
    ps.sql("CREATE TABLE ix (d DATETIME, k BIGINT, g VARCHAR(4), v INT) "
           "DUPLICATE KEY(d, k) "
           "AUTO PARTITION BY RANGE (date_trunc(`d`, 'day')) () "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO ix VALUES ('2024-01-01 01:00:00', 1, 'a', 10), "
           "('2024-01-02 01:00:00', 2, 'b', 20)")
    ps.sql("CREATE MATERIALIZED VIEW imv BUILD IMMEDIATE REFRESH AUTO "
           "ON COMMIT AS SELECT g, sum(v) AS sv, count(*) AS n "
           "FROM ix GROUP BY g")
    ps.sql("DELETE FROM ix WHERE v = 10")
    got = sorted((r.g, r.sv, r.n)
                 for r in ps.sql("SELECT g, sv, n FROM imv").collect())
    assert got == [("b", 20, 1)]
    ps.tables["ix"].compact()
    ps._refresh_view("ix")
    ps.sql("REFRESH MATERIALIZED VIEW imv")
    got = sorted((r.g, r.sv, r.n)
                 for r in ps.sql("SELECT g, sv, n FROM imv").collect())
    assert got == [("b", 20, 1)]
    ps.sql("TRUNCATE TABLE ix")
    assert ps.sql("SELECT * FROM imv").count() == 0
    ps.sql("INSERT INTO ix VALUES ('2024-02-01 01:00:00', 9, 'z', 7)")
    got = sorted((r.g, r.sv, r.n)
                 for r in ps.sql("SELECT g, sv, n FROM imv").collect())
    assert got == [("z", 7, 1)]
    # UNIQUE-model base: upsert of an existing key merges in-slice
    ps.sql("CREATE TABLE ux (d DATETIME, k BIGINT, v INT) UNIQUE KEY(d, k) "
           "AUTO PARTITION BY RANGE (date_trunc(`d`, 'day')) () "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO ux VALUES ('2024-01-01 01:00:00', 1, 10)")
    ps.sql("CREATE MATERIALIZED VIEW umv BUILD IMMEDIATE REFRESH AUTO "
           "ON COMMIT AS SELECT d, sum(v) AS sv FROM ux GROUP BY d")
    ps.sql("INSERT INTO ux VALUES ('2024-01-01 01:00:00', 1, 99)")
    got = [(str(r.d), r.sv) for r in ps.sql("SELECT d, sv FROM umv").collect()]
    assert got == [("2024-01-01 01:00:00", 99)]


def test_rewrite_rollup_precedence_and_nested_export(ps, tmp_path):
    """r10 probe pins: (a) when a sync rollup AND an async MV both
    cover an aggregate, the answer is fresh either way — the async
    rewrite only fires on provably-fresh snapshots, and after a base
    mutation the (stale) snapshot silently yields to the
    load-maintained rollup/base path; (b) nested ARRAY/MAP columns
    survive EXPORT → parquet roundtrip."""
    ps.sql("CREATE TABLE pr (k BIGINT, g VARCHAR(4), v INT) "
           "DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO pr VALUES (1,'a',10),(2,'b',20)")
    ps.sql("CREATE MATERIALIZED VIEW sync_r AS "
           "SELECT g, SUM(v) AS sum_v FROM pr GROUP BY g")
    ps.sql("CREATE MATERIALIZED VIEW async_r REFRESH COMPLETE AS "
           "SELECT g, SUM(v) AS sum_v FROM pr GROUP BY g")
    got = sorted((r.g, r.sum_v) for r in ps.sql(
        "SELECT g, SUM(v) AS sum_v FROM pr GROUP BY g").collect())
    assert got == [("a", 10), ("b", 20)]
    ps.sql("INSERT INTO pr VALUES (3,'a',100)")
    df = ps.sql("SELECT g, SUM(v) AS sum_v FROM pr GROUP BY g")
    got = sorted((r.g, r.sum_v) for r in df.collect())
    assert got == [("a", 110), ("b", 20)]
    assert ps.last_mv_rewrite is None  # stale snapshot yielded
    ps.sql("CREATE TABLE ne (k BIGINT, tags ARRAY<VARCHAR(4)>, "
           "m MAP<VARCHAR(2), INT>) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO ne VALUES (1, array('x'), map('a', 1))")
    out = f"{tmp_path}/ne_out"
    ps.sql(f"EXPORT TABLE ne TO '{out}'")
    r = ps.spark.read.parquet(out).collect()[0]
    assert r["tags"] == ["x"] and r["m"] == {"a": 1}


def test_restore_in_place_overwrites_live_table(spark):
    """RESTORE onto an existing table name is the upstream in-place
    form: the snapshot state replaces the live table, post-backup
    mutations vanish, the displaced incarnation lands in the recycle
    bin, ON COMMIT async MVs refresh, and a session re-attach resolves
    the name to the restored directory."""
    import tempfile

    wh = tempfile.mkdtemp(prefix="wh_inplace_")
    ps = PaloSession(spark, location_root=wh, result_cache=True)
    t = ps._create_table(
        "CREATE TABLE ipr (`k` BIGINT, `v` BIGINT) UNIQUE KEY(k) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    t.insert(spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint"))
    ps._refresh_view("ipr")
    repo = tempfile.mkdtemp(prefix="repo_inplace_")
    ps.sql(f"CREATE REPOSITORY ipr_repo WITH LOCATION '{repo}'")
    ps.sql("BACKUP SNAPSHOT ips TO ipr_repo ON (ipr)")
    # warm the result cache, then poison past the snapshot
    assert ps.sql("SELECT SUM(v) AS s FROM ipr").collect()[0].s == 30
    ps.sql("INSERT INTO ipr VALUES (3, 30)")
    ps.sql(
        "CREATE MATERIALIZED VIEW ipr_mv BUILD IMMEDIATE REFRESH "
        "COMPLETE ON COMMIT AS SELECT SUM(v) AS s FROM ipr"
    )
    assert ps.sql("SELECT s FROM ipr_mv").collect()[0].s == 60
    ps.sql("RESTORE SNAPSHOT ips FROM ipr_repo ON (ipr)")
    # snapshot state serves (no stale cache hit on the old lineage)
    assert ps.sql("SELECT SUM(v) AS s FROM ipr").collect()[0].s == 30
    # ON COMMIT MV refreshed by the swap
    assert ps.sql("SELECT s FROM ipr_mv").collect()[0].s == 30
    # re-attach resolves to the restored directory, not the displaced one
    ps2 = PaloSession(spark, location_root=wh)
    assert ps2.sql("SELECT SUM(v) AS s FROM ipr").collect()[0].s == 30
    # displaced incarnation is recoverable via the recycle bin listing
    assert ps2.sql("SHOW CATALOG RECYCLE BIN").count() >= 1


def test_restore_in_place_refuses_views_and_mvs(spark):
    """A table restore may not clobber a view or an async MV name."""
    import tempfile

    import pytest as _pt

    ps = PaloSession(spark)
    t = ps._create_table(
        "CREATE TABLE iprv (`k` BIGINT, `v` BIGINT) UNIQUE KEY(k) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    t.insert(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    ps._refresh_view("iprv")
    repo = tempfile.mkdtemp(prefix="repo_inplace2_")
    ps.sql(f"CREATE REPOSITORY iprv_repo WITH LOCATION '{repo}'")
    ps.sql("BACKUP SNAPSHOT ips2 TO iprv_repo ON (iprv)")
    ps.sql("CREATE VIEW iprv_view AS SELECT k FROM iprv")
    with _pt.raises(ValueError, match="already taken"):
        ps.sql("RESTORE SNAPSHOT ips2 FROM iprv_repo ON (iprv AS iprv_view)")


def test_restore_in_place_disarms_mv_rewrite(spark):
    """Transparent async-MV rewrite must NOT fire after an in-place
    restore of the base: the restored lineage/token no longer matches
    the one recorded at materialization, so the (pre-restore) snapshot
    is unprovably fresh and the query falls back to the base tables."""
    import tempfile

    ps = PaloSession(spark)
    t = ps._create_table(
        "CREATE TABLE mvrw (`k` BIGINT, `v` BIGINT) DUPLICATE KEY(k) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    t.insert(spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint"))
    ps._refresh_view("mvrw")
    repo = tempfile.mkdtemp(prefix="repo_mvrw_")
    ps.sql(f"CREATE REPOSITORY mvrw_repo WITH LOCATION '{repo}'")
    ps.sql("BACKUP SNAPSHOT mvrw_s TO mvrw_repo ON (mvrw)")
    ps.sql(
        "CREATE MATERIALIZED VIEW mvrw_mv BUILD IMMEDIATE REFRESH "
        "COMPLETE ON MANUAL AS SELECT k, SUM(v) AS s FROM mvrw GROUP BY k"
    )
    q = "SELECT k, SUM(v) AS s FROM mvrw GROUP BY k"
    ps.sql(q).collect()
    assert ps.last_mv_rewrite == "mvrw_mv"
    ps.sql("INSERT INTO mvrw VALUES (3, 30)")
    ps.sql("RESTORE SNAPSHOT mvrw_s FROM mvrw_repo ON (mvrw)")
    rows = sorted((r.k, r.s) for r in ps.sql(q).collect())
    assert ps.last_mv_rewrite is None
    assert rows == [(1, 10), (2, 20)]


def test_mysql_client_compat_surface(ps):
    """The metadata statements a mysql client / BI connector issues on
    connect ([docs: sql-statements SHOW-*]) all answer; @@variables,
    DATABASE(), CONNECTION_ID() rewrite to session values."""
    ps.sql(
        "CREATE TABLE cc (`k` BIGINT, `v` INT) DUPLICATE KEY(k) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    ps.sql("INSERT INTO cc VALUES (1, 10)")
    ps.sql("ALTER TABLE cc ADD COLUMN w INT DEFAULT '0'")
    st = ps.sql("SHOW TABLE STATUS").collect()
    assert [(r["Name"], r["Engine"]) for r in st] == [("cc", "OLAP")]
    assert ps.sql("SHOW PROCESSLIST").collect()[0]["User"] == "root"
    assert ps.sql("SHOW FRONTENDS").collect()[0]["State"] == "Alive"
    assert ps.sql("SHOW PROC '/backends'").collect()[0]["State"] == "Alive"
    assert "ADMIN_PRIV" in ps.sql("SHOW GRANTS").collect()[0]["Privs"]
    alter = ps.sql("SHOW ALTER TABLE COLUMN").collect()
    assert [(r["TableName"], r["Msg"], r["State"]) for r in alter] == [
        ("cc", "ADD COLUMN w", "FINISHED")
    ]
    reps = ps.sql("ADMIN SHOW REPLICA STATUS FROM cc").collect()
    assert len(reps) == 2 and all(r["Status"] == "OK" for r in reps)
    assert ps.sql("SELECT @@version_comment").collect()[0][0] == "palo_spark"
    assert ps.sql("SELECT @@session.autocommit AS a").collect()[0][0] == "1"
    assert ps.sql("SELECT DATABASE()").collect()[0][0] == "default"
    assert ps.sql("SELECT CONNECTION_ID()").collect()[0][0] == 1
    # a string literal containing @@ passes through untouched
    assert ps.sql("SELECT '@@not_a_var' AS s").collect()[0][0] == "@@not_a_var"
    assert ps.sql("SHOW ENGINES").collect()[0]["Support"] == "YES"
    for empty in ("SHOW LOAD", "SHOW BACKUP", "SHOW RESTORE",
                  "SHOW DYNAMIC PARTITION TABLES"):
        assert ps.sql(empty).collect() == []


def test_show_load_and_backup_history(ps, tmp_path):
    ps.sql(
        "CREATE TABLE lh (`k` BIGINT, `v` INT) DUPLICATE KEY(k) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    ps.tables["lh"].insert(
        ps.spark.createDataFrame([(1, 2)], "k long, v int"),
        label="load_one",
    )
    rows = ps.sql("SHOW LOAD").collect()
    assert [(r["Label"], r["TableName"], r["State"]) for r in rows] == [
        ("load_one", "lh", "FINISHED")
    ]
    ps.sql(f"CREATE REPOSITORY bkrepo WITH LOCATION '{tmp_path}/repo'")
    ps.sql("BACKUP SNAPSHOT snap1 TO bkrepo ON (lh)")
    assert [(r["SnapshotName"], r["State"]) for r in
            ps.sql("SHOW BACKUP").collect()] == [("snap1", "FINISHED")]
    ps.sql("RESTORE SNAPSHOT snap1 FROM bkrepo ON (lh AS lh2)")
    assert [(r["Label"], r["State"]) for r in
            ps.sql("SHOW RESTORE").collect()] == [("snap1", "FINISHED")]


def test_alias_functions(ps):
    """CREATE ALIAS FUNCTION ([docs: CREATE-FUNCTION]): SQL macros
    expanded pre-translate with parenthesized argument substitution;
    nested aliases compose, cycles fail loud, DROP removes."""
    ps.sql(
        "CREATE TABLE af (`k` BIGINT, `v` INT) DUPLICATE KEY(k) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    ps.sql("INSERT INTO af VALUES (1, 10), (2, 25), (3, 40)")
    ps.sql(
        "CREATE ALIAS FUNCTION band(INT) WITH PARAMETER (x) AS "
        "CASE WHEN x >= 30 THEN 'hi' WHEN x >= 20 THEN 'mid' "
        "ELSE 'lo' END"
    )
    got = [r[1] for r in ps.sql("SELECT k, band(v) AS b FROM af ORDER BY k").collect()]
    assert got == ["lo", "mid", "hi"]
    # multi-arg; substituted args are parenthesized (precedence-safe)
    ps.sql("CREATE ALIAS FUNCTION dbl(INT) WITH PARAMETER (z) AS z * 2")
    assert ps.sql("SELECT dbl(1 + 2) AS d").collect()[0][0] == 6
    # nested alias expansion
    ps.sql("CREATE ALIAS FUNCTION band2(INT) WITH PARAMETER (y) AS band(y + 1)")
    assert ps.sql("SELECT band2(29) AS b").collect()[0][0] == "hi"
    # string literals never expand
    assert ps.sql("SELECT 'dbl(3)' AS s").collect()[0][0] == "dbl(3)"
    assert len(ps.sql("SHOW FUNCTIONS").collect()) == 3
    ps.sql("DROP FUNCTION band2")
    assert len(ps.sql("SHOW FUNCTIONS").collect()) == 2
    import pytest as _pt

    with _pt.raises(ValueError, match="never used"):
        ps.sql("CREATE ALIAS FUNCTION bad(INT) WITH PARAMETER (q) AS 1 + 1")
    ps.sql("CREATE ALIAS FUNCTION c1(INT) WITH PARAMETER (x) AS c2(x)")
    ps.sql("CREATE ALIAS FUNCTION c2(INT) WITH PARAMETER (x) AS c1(x)")
    with _pt.raises(ValueError, match="depth"):
        ps.sql("SELECT c1(1) AS c").collect()
    # parameterized argument types parse (ADVICE r10: DECIMAL(10,2)'s
    # inner parens must not truncate the types group)
    ps.sql(
        "CREATE ALIAS FUNCTION pct(DECIMAL(10,2)) WITH PARAMETER (p) "
        "AS p * 100"
    )
    assert ps.sql("SELECT pct(0.5) AS x").collect()[0][0] == 50


def test_explain_modes(ps):
    ps.sql(
        "CREATE TABLE exm (`k` BIGINT) DUPLICATE KEY(k) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    base = ps.sql("EXPLAIN SELECT * FROM exm").collect()
    verbose = ps.sql("EXPLAIN VERBOSE SELECT * FROM exm").collect()
    shape = ps.sql("EXPLAIN SHAPE PLAN SELECT * FROM exm").collect()
    assert base and shape and len(verbose) > len(base)
    assert any("Physical Plan" in r[0] for r in base)


def test_alias_args_with_backslash_and_param_collision(ps):
    """r10c3 review fixes: argument text is data, never a regex
    replacement template; substitution is simultaneous, so an argument
    containing another parameter's NAME is not re-substituted."""
    ps.sql("CREATE ALIAS FUNCTION wrap(STRING) WITH PARAMETER (s) AS concat('[', s, ']')")
    # no crash, and byte-identical to inlining the argument by hand
    # (Spark's own literal escape semantics apply either way)
    via_macro = ps.sql(r"SELECT wrap('C:\tmp\1') AS w").collect()[0][0]
    inlined = ps.sql(r"SELECT concat('[', ('C:\tmp\1'), ']') AS w").collect()[0][0]
    assert via_macro == inlined
    ps.sql("CREATE ALIAS FUNCTION two(INT, INT) WITH PARAMETER (a, b) AS a + b * 10")
    ps.sql(
        "CREATE TABLE tt (`b` BIGINT) DUPLICATE KEY(b) "
        "DISTRIBUTED BY HASH(b) BUCKETS 2"
    )
    ps.sql("INSERT INTO tt VALUES (3)")
    # first argument IS the column named like the second parameter
    assert ps.sql("SELECT two(b, 1) AS t FROM tt").collect()[0][0] == 13


def test_set_at_at_variable_assignment(ps):
    """SET @@session.autocommit = 0 is an assignment — the handshake
    rewrite must not turn its left side into a literal."""
    ps.sql("SET @@session.autocommit = 0")
    assert ps.sql("SELECT @@autocommit AS a").collect()[0][0] == "0"
    ps.sql("SET @@autocommit = 1")
    assert ps.sql("SELECT @@autocommit AS a").collect()[0][0] == "1"


def test_tablesample_join_side_refused(ps, spark):
    ps.sql(
        "CREATE TABLE tsj (`k` BIGINT) DUPLICATE KEY(k) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="TABLESAMPLE"):
        ps.sql(
            "SELECT * FROM tsj a JOIN tsj b TABLESAMPLE (20 PERCENT) "
            "ON a.k = b.k"
        )


def test_alias_function_view_survives_drop(ps):
    """A view over an alias-function call stores the EXPANDED body, so
    dropping the alias later never breaks the view (audit probe,
    r10c3 — pinning the property)."""
    ps.sql(
        "CREATE TABLE avx (`k` BIGINT, `t` VARCHAR(16)) DUPLICATE KEY(k) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    ps.sql("INSERT INTO avx VALUES (1, 'abc')")
    ps.sql(
        "CREATE ALIAS FUNCTION tagify(STRING) WITH PARAMETER (s) AS "
        "concat('<', s, '>')"
    )
    ps.sql("CREATE VIEW avv AS SELECT k, tagify(t) AS tt FROM avx")
    ps.sql("DROP FUNCTION tagify")
    assert ps.sql("SELECT tt FROM avv").collect()[0][0] == "<abc>"


def test_tablesample_over_partitioned_table(ps):
    ps.sql(
        "CREATE TABLE pts (`k` BIGINT, `d` DATE, `v` INT) DUPLICATE KEY(k) "
        "PARTITION BY RANGE(d) ("
        "PARTITION p1 VALUES LESS THAN ('2024-02-01'), "
        "PARTITION p2 VALUES LESS THAN ('2024-03-01')) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    ps.sql(
        "INSERT INTO pts VALUES "
        + ", ".join(f"({i}, '2024-0{1 + i % 2}-10', {i})" for i in range(100))
    )
    a = sorted(r[0] for r in ps.sql(
        "SELECT k FROM pts TABLESAMPLE (40 PERCENT) REPEATABLE (3)"
    ).collect())
    b = sorted(r[0] for r in ps.sql(
        "SELECT k FROM pts TABLESAMPLE (40 PERCENT) REPEATABLE (3)"
    ).collect())
    assert a == b and 0 < len(a) < 100


def test_update_from_join(ps):
    """Doris 2.0 UPDATE ... FROM ([docs: update]): one distributed join
    computes the updated rows; unmatched rows untouched; SET may
    reference the source; the tail splitter is depth/quote-aware so
    EXTRACT(... FROM ...) and literals containing ' from ' survive."""
    ps.sql(
        "CREATE TABLE uf (`k` BIGINT, `v` INT, `s` VARCHAR(12)) "
        "UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    ps.sql("INSERT INTO uf VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')")
    ps.sql(
        "CREATE TABLE ufsrc (`k` BIGINT, `nv` INT) DUPLICATE KEY(k) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    ps.sql("INSERT INTO ufsrc VALUES (1, 100), (3, 300)")
    ps.sql("UPDATE uf SET v = ufsrc.nv + 1 FROM ufsrc WHERE uf.k = ufsrc.k")
    got = sorted((r[0], r[1]) for r in ps.sql("SELECT k, v FROM uf").collect())
    assert got == [(1, 101), (2, 20), (3, 301)]
    # alias form with a source-side filter
    ps.sql(
        "UPDATE uf t SET v = t.v * 2 FROM ufsrc "
        "WHERE t.k = ufsrc.k AND ufsrc.nv > 200"
    )
    got = sorted((r[0], r[1]) for r in ps.sql("SELECT k, v FROM uf").collect())
    assert got == [(1, 101), (2, 20), (3, 602)]
    # paren-protected FROM in a plain UPDATE's SET expression
    ps.sql(
        "CREATE TABLE ufd (`k` BIGINT, `d` DATETIME, `y` INT) "
        "UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    ps.sql("INSERT INTO ufd VALUES (1, '2024-03-15 00:00:00', 0)")
    ps.sql("UPDATE ufd SET y = EXTRACT(YEAR FROM d) WHERE k = 1")
    assert ps.sql("SELECT y FROM ufd").collect()[0][0] == 2024
    # a string literal containing ' from ' never splits the statement
    ps.sql("UPDATE uf SET s = 'x from y' WHERE k = 2")
    assert ps.sql("SELECT s FROM uf WHERE k = 2").collect()[0][0] == "x from y"
    # FROM with no WHERE would cross-join: refuse loudly (upstream
    # requires a usable join; VERDICT r10)
    import pytest as _pt

    with _pt.raises(Exception, match="WHERE"):
        ps.sql("UPDATE uf SET v = ufsrc.nv FROM ufsrc")
    # '_' is a word char: columns ending in _from / _where never split
    # the SET tail at the embedded keyword (ADVICE r10)
    ps.sql(
        "CREATE TABLE ufw (`k` BIGINT, `col_from` INT, `col_where` INT) "
        "UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    ps.sql("INSERT INTO ufw VALUES (1, 0, 0)")
    ps.sql("UPDATE ufw SET col_from = 5, col_where = 7 WHERE k = 1")
    r = ps.sql("SELECT col_from, col_where FROM ufw").collect()[0]
    assert (r[0], r[1]) == (5, 7)


def test_show_create_view(ps):
    ps.sql(
        "CREATE TABLE scv (`k` BIGINT) DUPLICATE KEY(k) "
        "DISTRIBUTED BY HASH(k) BUCKETS 2"
    )
    ps.sql("CREATE VIEW scvv AS SELECT k, k * 2 AS k2 FROM scv")
    row = ps.sql("SHOW CREATE VIEW scvv").collect()[0]
    assert row["view"] == "scvv"
    assert row["create_stmt"].startswith("CREATE VIEW `scvv` AS ")
    assert "k * 2" in row["create_stmt"]
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown view"):
        ps.sql("SHOW CREATE VIEW nope")


def test_insert_column_list_fills_unlisted_with_null(spark, tmp_path):
    """Doris column-list INSERT ([docs: insert]): listed columns map by
    position (any order), UNLISTED declared columns fill with NULL (the
    default — this engine's CREATE grammar declares no column
    defaults), unknown targets and arity mismatches refuse loudly, and
    a SELECT body maps the same way."""
    import pytest

    from palo_spark.palo_session import PaloSession

    ps = PaloSession(spark, location_root=str(tmp_path))
    ps.sql("CREATE TABLE icl (k INT, a VARCHAR(4), b INT) DUPLICATE "
           "KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO icl (k, b) VALUES (1, 5)")
    ps.sql("INSERT INTO icl (b, k) VALUES (7, 2)")
    ps.sql("INSERT INTO icl VALUES (3, 'x', 9)")
    ps.sql("INSERT INTO icl (k, a) SELECT 10, 'y'")
    got = sorted((r.k, r.a, r.b) for r in
                 ps.sql("SELECT k, a, b FROM icl").collect())
    assert got == [(1, None, 5), (2, None, 7), (3, "x", 9),
                   (10, "y", None)]
    with pytest.raises(ValueError, match="unknown INSERT target"):
        ps.sql("INSERT INTO icl (k, zz) VALUES (4, 1)")
    with pytest.raises(ValueError, match="arity"):
        ps.sql("INSERT INTO icl (k, b) VALUES (5, 1, 2)")


def test_insert_target_partition_restriction(spark, tmp_path):
    """Doris `INSERT INTO t PARTITION (p, ...)` ([docs: insert]): rows
    must belong to a listed partition — a stray row refuses the WHOLE
    load (strict mode; silent dropping would be a wrong answer),
    unknown partitions and non-partitioned targets refuse, and an
    in-target load lands normally (pruned reads see it)."""
    import pytest

    from palo_spark.palo_session import PaloSession

    ps = PaloSession(spark, location_root=str(tmp_path))
    ps.sql("CREATE TABLE ptr (`k` BIGINT, `d` DATETIME, `v` BIGINT) "
           "DUPLICATE KEY(k, d) PARTITION BY RANGE(`d`) ("
           "PARTITION p_lo VALUES LESS THAN ('2000-01-01'),"
           "PARTITION p_hi VALUES LESS THAN (MAXVALUE)) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO ptr PARTITION (p_hi) VALUES "
           "(1,'2002-01-01 00:00:00',10)")
    with pytest.raises(ValueError, match="outside the target"):
        ps.sql("INSERT INTO ptr PARTITION (p_hi) VALUES "
               "(2,'1998-01-01 00:00:00',20)")
    with pytest.raises(ValueError, match="unknown partition"):
        ps.sql("INSERT INTO ptr PARTITION (nope) VALUES "
               "(3,'2002-01-01 00:00:00',30)")
    # the refused load left nothing behind; the good row is pruned-read
    assert [r.k for r in
            ps.sql("SELECT k FROM ptr PARTITION (p_hi)").collect()] == [1]
    assert ps.sql("SELECT count(*) AS n FROM ptr").collect()[0]["n"] == 1
    ps2 = PaloSession(spark, location_root=str(tmp_path / "np"))
    ps2.sql("CREATE TABLE npx (k INT) DUPLICATE KEY(k) "
            "DISTRIBUTED BY HASH(k) BUCKETS 1")
    with pytest.raises(ValueError, match="partitioned table"):
        ps2.sql("INSERT INTO npx PARTITION (x) VALUES (1)")


def test_stats_tails_show_view_and_set_var_hint(spark, tmp_path):
    """r12 continuation batch: ANALYZE grammar tails (WITH SYNC /
    WITH SAMPLE), SHOW TABLE STATS from the last ANALYZE, SHOW VIEW's
    transitive dependency walk, and the per-statement /*+ SET_VAR */
    hint (applies inside, restores after)."""
    import pytest

    from palo_spark.palo_session import PaloSession

    ps = PaloSession(spark, location_root=str(tmp_path))
    ps.sql("CREATE TABLE st (k INT, v INT) DUPLICATE KEY(k) "
           "DISTRIBUTED BY HASH(k) BUCKETS 2")
    ps.sql("INSERT INTO st VALUES (1,10),(2,20),(3,30)")
    with pytest.raises(ValueError, match="ANALYZE"):
        ps.sql("SHOW TABLE STATS st")
    ps.sql("ANALYZE TABLE st WITH SYNC")
    r = ps.sql("SHOW TABLE STATS st").collect()[0]
    assert (r["row_count"], r["column_num"]) == (3, 2)
    ps.sql("ANALYZE TABLE st WITH SAMPLE ROWS 2")
    assert ps.sql("SHOW COLUMN STATS st").collect()[0]["count"] == 2
    ps.sql("CREATE VIEW stv AS SELECT v FROM st")
    ps.sql("CREATE VIEW stv2 AS SELECT v FROM stv")
    got = [r["view_name"] for r in ps.sql("SHOW VIEW FROM st").collect()]
    assert sorted(got) == ["stv", "stv2"]  # transitive
    # SET_VAR: the TZ applies INSIDE the statement and restores after
    ps.sql("INSERT INTO st VALUES (9, 99)")
    inside = ps.sql(
        "SELECT /*+ SET_VAR(time_zone='Asia/Tokyo') */ "
        "date_format(from_unixtime(0), '%H') AS h"
    ).collect()[0]["h"]
    assert inside == "09"  # 1970-01-01 00:00 UTC is 09:00 in Tokyo
    after = ps.sql(
        "SELECT date_format(from_unixtime(0), '%H') AS h"
    ).collect()[0]["h"]
    assert after == "00" and ps.variables.get("time_zone") == "UTC"
    with pytest.raises(ValueError, match="SET_VAR"):
        ps.sql("SELECT /*+ SET_VAR(nonsense) */ 1")
