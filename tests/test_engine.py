"""Engine facade: SQL front door + DDL/DML + COPY round trips."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gpdb_spark.engine import Engine


def test_engine_sql_distinct_on(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    rows = eng.sql(
        """
        SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
        FROM orders ORDER BY o_custkey, o_totalprice DESC LIMIT 5
        """
    ).collect()
    assert len(rows) == 5
    assert [r.o_custkey for r in rows] == [0, 1, 2, 3, 4]
    # per-customer max totalprice wins
    best = (
        eng.table("orders")
        .groupBy("o_custkey")
        .agg(F.max("o_totalprice").alias("m"))
        .where(F.col("o_custkey") < 5)
        .collect()
    )
    want = {r.o_custkey: r.m for r in best}
    for r in rows:
        assert r.o_totalprice == want[r.o_custkey]


def test_engine_ddl_dml_roundtrip(spark, sf_dir, tmp_path):
    eng = Engine(spark, sf_dir)
    src = eng.table("nation")
    path = str(tmp_path / "nation_copy")
    eng.create_table("nation_copy", src, path, distributed_by=["n_regionkey"])
    assert eng.sql("SELECT count(*) AS n FROM nation_copy").first().n == 25

    deleted = eng.delete_where("nation_copy", F.col("n_nationkey") >= 20)
    assert deleted == 5
    assert eng.table("nation_copy").count() == 20

    updated = eng.update_set(
        "nation_copy",
        F.col("n_regionkey") == 0,
        {"n_name": F.concat(F.col("n_name"), F.lit("_AF"))},
    )
    assert updated > 0
    assert (
        eng.table("nation_copy")
        .where(F.col("n_name").endswith("_AF"))
        .count()
        == updated
    )

    eng.insert_into(
        "nation_copy",
        spark.createDataFrame(
            [(99, "ATLANTIS", 4)], "n_nationkey long, n_name string, n_regionkey int"
        ),
    )
    assert eng.sql("SELECT count(*) AS n FROM nation_copy").first().n == 21


def test_engine_copy_roundtrip(spark, tmp_path):
    eng = Engine(spark)
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, v double"
    )
    out = str(tmp_path / "unload")
    eng.copy_to(df, out)

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("s", StringType()),
            StructField("v", DoubleType()),
        ]
    )
    back = eng.copy_from(
        "copied",
        out,
        schema,
        str(tmp_path / "copied_table"),
        header=True,
        distributed_by=["id"],
    )
    got = sorted(tuple(r) for r in back.read(spark).collect())
    assert got == [(1, "a", 1.5), (2, "b", 2.5)]


def test_engine_explain_motion(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    txt = eng.explain(
        "SELECT o_custkey, count(*) FROM orders GROUP BY o_custkey"
    )
    assert "Redistribute Motion" in txt


def test_views_and_matview(tmp_path, spark):
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=None)
    spark.range(10).selectExpr("id", "id * 2 AS v").createOrReplaceTempView(
        "mv_base"
    )
    # logical view: re-planned per use, sees base changes
    eng.create_view("v_even", "SELECT id, v FROM mv_base WHERE id % 2 = 0")
    assert spark.table("v_even").count() == 5

    # materialized view: persisted snapshot; stale until REFRESH
    eng.create_materialized_view(
        "mv_even", "SELECT id, v FROM mv_base WHERE id % 2 = 0",
        str(tmp_path / "mv_even"),
    )
    assert spark.table("mv_even").count() == 5
    spark.range(20).selectExpr("id", "id * 2 AS v").createOrReplaceTempView(
        "mv_base"
    )
    assert spark.table("mv_even").count() == 5  # snapshot unchanged
    eng.refresh_materialized_view("mv_even")
    assert spark.table("mv_even").count() == 10


def test_engine_sql_is_full_front_door(spark):
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=None)
    spark.range(100).createOrReplaceTempView("fd")
    # WITH RECURSIVE routes through the fixpoint operator
    out = eng.sql(
        "WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT n+1 FROM r "
        "WHERE n < 5) SELECT count(*)::int8 AS c FROM r"
    ).collect()
    assert out[0].c == 5


def test_prepared_statements(spark, sf_dir):
    """PREPARE/EXECUTE with $n parameters (extended query protocol,
    postgres.c:1952/2224/2611): translate once, bind per execute,
    injection-safe (values never spliced into the text)."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=sf_dir)
    eng.prepare(
        "big_orders",
        "SELECT o_orderkey, o_totalprice::numeric(14,2) AS p "
        "FROM orders WHERE o_totalprice > $1 AND o_orderpriority = $2 "
        "ORDER BY o_orderkey LIMIT 5",
    )
    rows = eng.execute("big_orders", 100000.0, "1-URGENT").collect()
    assert 0 < len(rows) <= 5
    assert all(float(r.p) > 100000.0 for r in rows)
    # rebind with different params, same cached translation
    rows2 = eng.execute("big_orders", 400000.0, "1-URGENT").collect()
    assert all(float(r.p) > 400000.0 for r in rows2)
    # a quoting-hostile string binds safely as a VALUE
    eng.prepare("by_prio", "SELECT count(*)::int8 AS n FROM orders WHERE o_orderpriority = $1")
    assert eng.execute("by_prio", "x' OR '1'='1").collect()[0].n == 0


def test_resource_group_and_analyze(spark, tmp_path):
    """Resource-group hook maps to the fair-scheduler pool property;
    ANALYZE records catalog statistics the CBO can read."""
    from gpdb_spark.engine import Engine
    from gpdb_spark.storage import GpTable

    eng = Engine(spark, sf_dir=None)
    eng.set_resource_group("etl_pool")
    assert (
        spark.sparkContext.getLocalProperty("spark.scheduler.pool")
        == "etl_pool"
    )
    eng.set_resource_group(None)

    spark.sql("DROP TABLE IF EXISTS stats_t")
    GpTable.save_bucketed(
        spark.range(1000).selectExpr("id", "id % 7 AS k"),
        "stats_t", ("k",), num_buckets=4,
    )
    eng.analyze("stats_t", ["k"])
    desc = spark.sql("DESCRIBE EXTENDED stats_t").collect()
    stats = [r for r in desc if r.col_name == "Statistics"]
    assert stats and "rows" in stats[0].data_type  # e.g. '... 1000 rows'


def test_cursor_portal(spark):
    """DECLARE/FETCH/MOVE/CLOSE with bounded driver streaming."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    eng.declare_cursor(
        "c1", "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"
    )
    first = eng.fetch("c1", 3)
    assert [r.n_nationkey for r in first] == [0, 1, 2]
    assert eng.move("c1", 2) == 2  # skip 3,4
    nxt = eng.fetch("c1")
    assert nxt[0].n_nationkey == 5
    rest = eng.fetch("c1", 10_000)
    assert len(rest) == 25 - 6
    assert eng.fetch("c1", 5) == []  # past the end
    eng.close_cursor("c1")


def test_scroll_cursor_portal(spark):
    """DECLARE SCROLL CURSOR honors every SQL FETCH/MOVE direction
    (portal.c DoPortalRunFetch; fetch.sgml): BACKWARD returns rows in
    reverse order, ABSOLUTE -k counts from the end, FETCH 0 re-fetches
    the current row, MOVE returns the passed-over count, and a NO
    SCROLL portal raises on backward movement."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    eng.declare_cursor(
        "sc", "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 10",
        scroll=True,
    )
    assert [r.n_nationkey for r in eng.fetch("sc", 4)] == [0, 1, 2, 3]
    # BACKWARD 2 from row 4: rows 3, 2 in reverse order, ends on row 2
    assert [r.n_nationkey for r in eng.fetch("sc", 2, "backward")] == [2, 1]
    assert eng.fetch("sc", 0)[0].n_nationkey == 1  # FETCH 0 = current
    assert eng.fetch("sc", 1, "last")[0].n_nationkey == 9
    assert eng.fetch("sc", -3, "absolute")[0].n_nationkey == 7
    assert eng.fetch("sc", -2, "relative")[0].n_nationkey == 5
    assert eng.fetch("sc", 1, "first")[0].n_nationkey == 0
    assert eng.fetch("sc", 1, "prior") == []  # before first row
    # MOVE family: counts, ALL forms, sign flip
    assert eng.move("sc", 3) == 3  # on row 3 (value 2)
    assert eng.move("sc", None, "all") == 7  # after last
    assert eng.move("sc", 1) == 0
    assert eng.move("sc", None, "backward all") == 10
    assert eng.move("sc", -2, "backward") == 2  # MOVE BACKWARD -2 == FWD 2
    assert eng.fetch("sc", 0)[0].n_nationkey == 1
    eng.close_cursor("sc")

    eng.declare_cursor("ns", "SELECT n_nationkey FROM nation")
    eng.fetch("ns", 2)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="can only scan forward"):
        eng.fetch("ns", 1, "prior")


def test_portal_and_prepared_sql_text_front_door(spark, sf_dir):
    """The simple-protocol SQL spellings a ported psql script sends
    (gram.y DeclareCursorStmt/FetchStmt/ClosePortalStmt,
    PrepareStmt/ExecuteStmt/DeallocateStmt) route through Engine.sql:
    DECLARE SCROLL + FETCH directions as text, MOVE's command tag,
    CLOSE ALL, and PREPARE/EXECUTE with literal and expression args."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    assert eng.sql(
        "DECLARE sc SCROLL CURSOR FOR "
        "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 6"
    ).collect()[0].status == "DECLARE CURSOR"
    assert [r.n_nationkey for r in eng.sql("FETCH 3 FROM sc").collect()] \
        == [0, 1, 2]
    assert [r.n_nationkey for r in
            eng.sql("FETCH BACKWARD 2 FROM sc").collect()] == [1, 0]
    assert eng.sql("FETCH LAST IN sc").collect()[0].n_nationkey == 5
    assert eng.sql("MOVE BACKWARD ALL IN sc").collect()[0].status == "MOVE 5"
    assert eng.sql("FETCH ALL FROM sc").collect()[-1].n_nationkey == 5
    assert eng.sql("FETCH sc").collect() == []  # after last
    assert eng.sql("CLOSE ALL").collect()[0].status == "CLOSE CURSOR"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not exist"):
        eng.sql("FETCH 1 FROM sc")

    assert eng.sql(
        "PREPARE nat_by_region AS SELECT count(*)::int8 AS n "
        "FROM nation WHERE n_regionkey = $1"
    ).collect()[0].status == "PREPARE"
    assert eng.sql("EXECUTE nat_by_region (2)").collect()[0].n == 5
    # expression argument takes the bounded single-row eval path
    assert eng.sql("EXECUTE nat_by_region (1 + 1)").collect()[0].n == 5
    assert eng.sql("DEALLOCATE nat_by_region").collect()[0].status \
        == "DEALLOCATE"


def test_pg_stat_statements(spark, sf_dir):
    from gpdb_spark.engine import Engine

    e = Engine(spark, sf_dir)
    e.pg_stat_statements_reset()
    e.run("SELECT count(*) AS n FROM nation WHERE n_regionkey = 1")
    e.run("SELECT count(*) AS n FROM nation WHERE n_regionkey = 3")
    e.run("SELECT n_name FROM nation WHERE n_nationkey < 5")
    stats = {r["query"]: r for r in e.pg_stat_statements().collect()}
    assert len(stats) == 2  # two shapes: constants normalized away
    counted = [s for q, s in stats.items() if "count(*)" in q][0]
    assert counted["calls"] == 2
    assert counted["rows"] == 2
    assert counted["total_ms"] > 0
    listed = [s for q, s in stats.items() if "n_name" in q][0]
    assert listed["calls"] == 1 and listed["rows"] == 5


def test_txid_functions(spark):
    from gpdb_spark.engine import Engine

    e = Engine(spark)
    a, b = e.txid_current(), e.txid_current()
    assert b == a + 1
    snap = e.txid_current_snapshot()
    assert snap == f"{b + 1}:{b + 1}:"


def test_parallel_retrieve_cursor(spark, sf_dir):
    """gp_parallel_retrieve_cursor: per-endpoint draining covers the full
    result exactly once, endpoints independently retrievable."""
    from gpdb_spark.engine import Engine

    e = Engine(spark, sf_dir)
    n = e.declare_parallel_cursor(
        "pc", "SELECT n_nationkey, n_name FROM nation"
    )
    assert n >= 1
    seen = []
    for i in range(n):
        seen += [r["n_nationkey"] for r in e.retrieve("pc", i)]
    assert sorted(seen) == list(range(25))
    e.close_parallel_cursor("pc")


def test_dml_front_door(spark, tmp_path):
    """INSERT/UPDATE/DELETE as PG text (exec_simple_query write path):
    VALUES + column list, PG-dialect expressions in SET/WHERE, counts."""
    from gpdb_spark.engine import Engine

    e = Engine(spark)
    src = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["id", "tag", "val"],
    )
    e.create_table("dml_t", src, str(tmp_path / "dml_t"), distributed_by=("id",))

    assert e.execute_dml(
        "INSERT INTO dml_t (id, tag, val) VALUES (4, 'd', 40.0), (5, 'e', 50.0)"
    ) == 2
    assert e.table("dml_t").count() == 5

    # PG-isms in expressions: :: cast and || concat
    n = e.execute_dml(
        "UPDATE dml_t SET val = val * 2, tag = tag || '!' WHERE id::int4 >= 4"
    )
    assert n == 2
    got = {r["id"]: (r["tag"], r["val"]) for r in e.table("dml_t").collect()}
    assert got[4] == ("d!", 80.0) and got[5] == ("e!", 100.0)
    assert got[1] == ("a", 10.0)

    assert e.execute_dml("DELETE FROM dml_t WHERE val > 50") == 2
    assert sorted(r["id"] for r in e.table("dml_t").collect()) == [1, 2, 3]


def test_dml_runs_no_schema_inference_jobs(spark, tmp_path):
    """Every DML statement scans its table with the known schema: no
    footer-reading schema-inference job (a ``parquet`` stage) besides
    the statement's single write, and at most a count plus the write."""
    from gpdb_spark.engine import Engine

    e = Engine(spark)
    src = spark.createDataFrame(
        [(i, f"t{i}", float(i)) for i in range(1, 9)], "id long, tag string, val double")
    e.create_table("jobs_t", src, str(tmp_path / "jobs_t"), distributed_by=("id",))
    e.table("jobs_t").count()  # the table's first read
    sc = spark.sparkContext
    jvm_sc = spark._jsc.sc()

    def stage_names(group, stmt):
        sc.setJobGroup(group, stmt)
        try:
            n = e.execute_dml(stmt)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jvm_sc.listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        return n, jobs, [st.getStageInfo(s).name for j in jobs
                         for s in st.getJobInfo(j).stageIds]

    for group, stmt, want in [
        ("dml-insert", "INSERT INTO jobs_t VALUES (9, 't9', 9.0), (10, 't10', 10.0)", 2),
        ("dml-update", "UPDATE jobs_t SET val = val + 1 WHERE id BETWEEN 2 AND 4", 3),
        ("dml-delete", "DELETE FROM jobs_t WHERE id >= 8", 3),
    ]:
        n, jobs, names = stage_names(group, stmt)
        assert n == want, stmt
        assert len(jobs) <= 3, (stmt, names)
        assert sum(nm.startswith("parquet at") for nm in names) == 1, (stmt, names)
    assert sorted(r.id for r in e.table("jobs_t").collect()) == [1, 2, 3, 4, 5, 6, 7]


def test_insert_count_excludes_trigger_skipped_rows(spark, tmp_path):
    """A BEFORE INSERT row trigger returning NULL skips the row, and
    PG's command tag counts only the rows actually inserted."""
    from gpdb_spark.engine import Engine
    from gpdb_spark.storage import RowTrigger

    e = Engine(spark)
    src = spark.createDataFrame([(1, 10)], "id long, v long")
    e.create_table("trig_ins", src, str(tmp_path / "trig_ins"), distributed_by=("id",))
    e.gp_table("trig_ins").add_row_trigger(
        RowTrigger(event="insert", skip_when=F.col("v") < 0))
    n = e.execute_dml("INSERT INTO trig_ins VALUES (2, 20), (3, -1), (4, -5), (5, 50)")
    assert n == 2
    assert sorted((r.id, r.v) for r in e.table("trig_ins").collect()) == [
        (1, 10), (2, 20), (5, 50)]
    assert e.sql("INSERT INTO trig_ins VALUES (6, -6), (7, 70)").first()[0] == "INSERT 0 1"


def test_session_control_statements(spark, sf_dir):
    """SET/SHOW/RESET GUCs and transaction commands pass through the
    front door the way ported PG scripts expect (guc.c / xact.c)."""
    from gpdb_spark.engine import Engine

    e = Engine(spark, sf_dir)
    assert e.sql("BEGIN").collect()[0]["status"] == "BEGIN"
    e.sql("SET statement_mem TO '512MB'")
    assert e.sql("SHOW statement_mem").collect()[0]["setting"] == "512MB"
    e.sql("RESET statement_mem")
    assert e.sql("SHOW statement_mem").collect()[0]["setting"] == ""
    assert e.sql("COMMIT").collect()[0]["status"] == "COMMIT"
    # real query still works after session commands
    assert e.sql("SELECT count(*) AS n FROM nation").collect()[0]["n"] == 25


def test_run_script(spark, tmp_path):
    """psql-style script: comments, SET, DML and a final SELECT."""
    from gpdb_spark.engine import Engine

    e = Engine(spark)
    src = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["id", "v"])
    e.create_table("script_t", src, str(tmp_path / "script_t"),
                   distributed_by=("id",))
    rows = e.run_script("""
        -- a ported maintenance script
        BEGIN;
        SET statement_mem TO '256MB';
        INSERT INTO script_t (id, v) VALUES (3, 30.0);
        UPDATE script_t SET v = v + 1 WHERE id = 1;  /* bump */
        DELETE FROM script_t WHERE id = 2;
        COMMIT;
        SELECT id, v FROM script_t ORDER BY id;
    """)
    assert [(r["id"], r["v"]) for r in rows] == [(1, 11.0), (3, 30.0)]


def test_run_script_comment_in_string(spark, sf_dir):
    from gpdb_spark.engine import Engine

    e = Engine(spark, sf_dir)
    rows = e.run_script("SELECT '--not a comment' AS v; -- real comment")
    assert rows[0]["v"] == "--not a comment"


def test_create_table_as(spark, sf_dir, tmp_path):
    from gpdb_spark.engine import Engine

    e = Engine(spark, sf_dir)
    t = e.create_table_as(
        "big_cust",
        str(tmp_path / "big_cust"),
        "SELECT c_custkey, c_acctbal::numeric(12,2) AS bal "
        "FROM customer WHERE c_acctbal > 0",
        distributed_by=("c_custkey",),
    )
    n = e.table("big_cust").count()
    assert n == t.read(spark).count() > 0
    assert e.sql("SELECT count(*) AS n FROM big_cust").collect()[0]["n"] == n


def test_run_bounded_driver_transfer(spark, sf_dir):
    """run() caps driver transfer at max_rows while pg_stat_statements
    still records the TRUE row count (counted JVM-side) — the front
    door never ships an unbounded table to the driver."""
    from gpdb_spark.engine import Engine

    e = Engine(spark, sf_dir)
    e.pg_stat_statements_reset()
    rows = e.run("SELECT o_orderkey FROM orders", max_rows=7)
    assert len(rows) == 7
    stats = e.pg_stat_statements().collect()
    true_n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert stats[0]["rows"] == true_n  # stat is the real count, not 7


def test_insert_positional_fewer_columns(spark, tmp_path):
    """PG accepts positional INSERT with fewer expressions than target
    columns; trailing columns NULL-fill (round-3 advice fix)."""
    from gpdb_spark.engine import Engine

    e = Engine(spark)
    df = spark.createDataFrame([(1, "a", 10.0)], "id int, name string, v double")
    t = e.create_table(
        "t_pos", df, str(tmp_path / "t_pos"), distributed_by=("id",)
    )
    e.execute_dml("INSERT INTO t_pos VALUES (2, 'b')")
    got = {r.id: (r.name, r.v) for r in t.read(spark).collect()}
    assert got[2] == ("b", None)


def test_catalog_introspection(spark, sf_dir, tmp_path):
    """pg_tables / pg_views / information_schema.columns
    (system_views.sql, infoschema.sql): the psql-facing catalog surface
    over governed tables, fixtures, and views."""
    from gpdb_spark.engine import Engine

    e = Engine(spark, sf_dir)
    e.sql("SELECT 1")  # registers fixture views
    df = spark.createDataFrame([(1, "a")], "id bigint, name string")
    e.create_table("cat_t", df, str(tmp_path / "cat_t"), distributed_by=("id",))
    e.create_view("cat_v", "SELECT n_name FROM nation WHERE n_nationkey < 3")

    tables = {r.tablename for r in e.pg_tables().collect()}
    assert "cat_t" in tables and "nation" in tables
    assert "cat_v" not in tables  # views are not tables

    views = {r.viewname: r for r in e.pg_views().collect()}
    assert "cat_v" in views
    assert "n_name" in views["cat_v"].definition
    assert views["cat_v"].ismaterialized is False

    cols = e.information_schema_columns("cat_t").collect()
    assert [(c.column_name, c.ordinal_position, c.data_type) for c in cols] == [
        ("id", 1, "bigint"),
        ("name", 2, "text"),
    ]
    # PG type-name mapping over fixture types
    all_cols = {
        (c.table_name, c.column_name): c.data_type
        for c in e.information_schema_columns().collect()
    }
    assert all_cols[("orders", "o_totalprice")] == "double precision"
    assert all_cols[("orders", "o_orderdate")] == "timestamp without time zone"
    assert all_cols[("embeddings", "embedding")] in ("real[]", "double precision[]")


def test_crosstab_both_forms(spark, sf_dir):
    """tablefunc crosstab (tablefunc.c:692): positional fill and the
    category-matched hash form."""
    eng = Engine(spark, sf_dir)
    pos = eng.crosstab(
        "SELECT n_regionkey AS rn, n_name AS cat, n_nationkey AS val "
        "FROM nation ORDER BY 1, 2",
        n_categories=5,
    )
    assert pos.columns == ["rn", "value_1", "value_2", "value_3", "value_4", "value_5"]
    assert pos.count() == 5
    r0 = {r.rn: r for r in pos.collect()}[0]
    # region 0 names sort NATION_0 < NATION_10 < NATION_15 < NATION_20
    # < NATION_5 (string order), so the last positional slot is key 5
    assert r0.value_1 == 0 and r0.value_5 == 5

    hashed = eng.crosstab(
        "SELECT n_regionkey AS rn, n_name AS cat, n_nationkey AS val FROM nation",
        category_sql="SELECT 'NATION_0' UNION ALL SELECT 'NATION_3'",
    )
    assert set(hashed.columns) == {"rn", "NATION_0", "NATION_3"}
    row = {r.rn: r for r in hashed.collect()}
    assert row[0].NATION_0 == 0 and row[3].NATION_3 == 3
    assert row[0].NATION_3 is None


def test_grant_comment_materialized_hints(spark, sf_dir):
    """Script-compatibility surface: GRANT/REVOKE accepted (recorded,
    not enforced — aclchk.c note), COMMENT ON stored (pg_description),
    WITH ... AS [NOT] MATERIALIZED hints stripped (Catalyst decides
    inlining)."""
    eng = Engine(spark, sf_dir)
    assert eng.sql("GRANT SELECT ON nation TO analyst").first().status == "GRANT"
    eng.sql("COMMENT ON TABLE nation IS 'it''s the nations'")
    assert eng.obj_description("nation") == "it's the nations"
    eng.sql("COMMENT ON TABLE nation IS NULL")
    assert eng.obj_description("nation") is None
    r = eng.sql(
        "WITH x AS MATERIALIZED (SELECT 1 AS a), "
        "y AS NOT MATERIALIZED (SELECT 2 AS b) "
        "SELECT x.a + y.b AS s FROM x, y"
    ).first()
    assert r.s == 3


def test_enum_type_ordering_and_check(spark, sf_dir):
    """CREATE TYPE AS ENUM (typecmds.c DefineEnum / pg_enum.c):
    declaration order IS the sort order; membership is the domain
    constraint."""
    from pyspark.sql import functions as F

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    assert eng.enum_range("mood") == ["sad", "ok", "happy"]
    df = spark.createDataFrame(
        [("a", "happy"), ("b", "sad"), ("c", "ok")], "id string, m string"
    )
    ordered = [
        r.id
        for r in df.orderBy(eng.enum_ordinal("mood", "m")).collect()
    ]
    assert ordered == ["b", "c", "a"]  # sad < ok < happy, NOT alphabetical
    bad = spark.createDataFrame([("d", "angry")], "id string, m string")
    assert df.where(~eng.enum_check("mood", "m")).count() == 0
    assert bad.where(~eng.enum_check("mood", "m")).count() == 1


def test_dml_identifier_case_folding(tmp_path, spark):
    """Review regression: PG folds unquoted identifiers to lowercase —
    INSERT (A) into column 'a' must not NULL the value, UPDATE SET
    AMOUNT must hit 'amount', and an unknown SET column raises instead
    of silently rewriting the table unchanged."""
    import pytest as _pytest

    eng = Engine(spark)
    df = spark.createDataFrame([(1, 10.0)], "id long, amount double")
    eng.create_table("casef", df, str(tmp_path / "casef"),
                     distributed_by=["id"])
    eng.execute_dml("INSERT INTO casef (ID, AMOUNT) VALUES (2, 20.0)")
    rows = {r.id: r.amount for r in eng.sql("SELECT * FROM casef").collect()}
    assert rows[2] == 20.0  # not NULL
    n = eng.execute_dml("UPDATE casef SET AMOUNT = 99.0 WHERE ID = 1")
    assert n == 1
    rows = {r.id: r.amount for r in eng.sql("SELECT * FROM casef").collect()}
    assert rows[1] == 99.0
    with _pytest.raises(ValueError, match="does not exist"):
        eng.execute_dml("UPDATE casef SET no_such_col = 1")


def test_update_set_array_literal(tmp_path, spark):
    """Review regression: a top-level comma inside ARRAY[...] must not
    split the SET list (bracket depth tracked like parens)."""
    eng = Engine(spark)
    df = spark.createDataFrame(
        [(1, [9])], "id long, tags array<int>"
    )
    eng.create_table("arrt", df, str(tmp_path / "arrt"),
                     distributed_by=["id"])
    n = eng.execute_dml("UPDATE arrt SET tags = ARRAY[1,2,3] WHERE id = 1")
    assert n == 1
    assert eng.sql("SELECT tags FROM arrt").collect()[0].tags == [1, 2, 3]


def test_view_stays_current_after_dml(tmp_path, spark):
    """Review regression: a logical view must re-plan after DML on its
    base table (the frozen temp-view plan pointed at deleted files)."""
    eng = Engine(spark)
    df = spark.createDataFrame([(1, 5.0), (2, 50.0)], "id long, v double")
    eng.create_table("vbase", df, str(tmp_path / "vbase"),
                     distributed_by=["id"])
    eng.create_view("vbig", "SELECT * FROM vbase WHERE v > 10")
    assert eng.sql("SELECT count(*) AS n FROM vbig").collect()[0].n == 1
    eng.execute_dml("UPDATE vbase SET v = 100.0 WHERE id = 1")
    assert eng.sql("SELECT count(*) AS n FROM vbig").collect()[0].n == 2


def test_engine_sql_int_division_uses_catalog(spark, sf_dir):
    """Review regression: Engine.sql must pass sf_dir so the
    catalog-type-driven PG integer-division rewrite applies."""
    eng = Engine(spark, sf_dir)
    r = eng.sql(
        "SELECT n_nationkey / 2 AS d FROM nation WHERE n_nationkey = 7"
    ).collect()[0]
    assert r.d == 3  # PG int division truncates; double would give 3.5


def test_view_over_view_replan_on_replace(tmp_path, spark):
    """ADVICE regression: CREATE OR REPLACE of a base view re-plans its
    dependents (topological order), so a view-over-view never serves the
    stale plan; unrelated views are untouched by DML refresh."""
    eng = Engine(spark)
    df = spark.createDataFrame([(1, 5.0), (2, 50.0)], "id long, v double")
    eng.create_table("wbase", df, str(tmp_path / "wbase"),
                     distributed_by=["id"])
    eng.create_view("w1", "SELECT * FROM wbase WHERE v > 10")
    eng.create_view("w2", "SELECT count(*) AS n FROM w1")
    assert eng.sql("SELECT n FROM w2").collect()[0].n == 1

    # replace the base view: the dependent must see the new definition
    eng.create_view("w1", "SELECT * FROM wbase")  # no filter now
    assert eng.sql("SELECT n FROM w2").collect()[0].n == 2

    # DML on the base table flows through the whole chain
    eng.execute_dml("DELETE FROM wbase WHERE id = 1")
    assert eng.sql("SELECT n FROM w2").collect()[0].n == 1


def test_refresh_only_replans_affected_views(tmp_path, spark):
    """_replan_views must touch only views whose transitive base set
    includes the mutated table."""
    eng = Engine(spark)
    a = spark.createDataFrame([(1,)], "id long")
    b = spark.createDataFrame([(10,), (20,)], "id long")
    eng.create_table("ta", a, str(tmp_path / "ta"), distributed_by=["id"])
    eng.create_table("tb", b, str(tmp_path / "tb"), distributed_by=["id"])
    eng.create_view("va", "SELECT count(*) AS n FROM ta")
    eng.create_view("vb", "SELECT count(*) AS n FROM tb")

    calls = []
    orig = eng.sql

    def spy(text, *a_, **k):
        calls.append(text)
        return orig(text, *a_, **k)

    eng.sql = spy
    eng.execute_dml("INSERT INTO ta VALUES (2)")
    replanned = [c for c in calls if "FROM ta" in c or "FROM tb" in c]
    assert any("FROM ta" in c for c in replanned)
    assert not any("FROM tb" in c for c in replanned)
    eng.sql = orig
    assert eng.sql("SELECT n FROM va").collect()[0].n == 2
    assert eng.sql("SELECT n FROM vb").collect()[0].n == 2


def test_auto_explain_logs_slow_plans(spark, sf_dir):
    """contrib/auto_explain: plans of statements crossing
    log_min_duration land in the notice stream; below-threshold and
    disabled modes log nothing."""
    eng = Engine(spark, sf_dir)
    base = len(eng.notices())

    eng.auto_explain(0.0)  # log everything
    eng.run("SELECT count(*) AS n FROM nation")
    got = eng.notices()[base:]
    assert len(got) == 1
    assert "auto_explain: duration:" in got[0]
    assert "ms" in got[0]

    eng.auto_explain(10_000_000.0)  # nothing is that slow
    eng.run("SELECT count(*) AS n FROM region")
    assert len(eng.notices()) == base + 1

    eng.auto_explain(None)  # GUC -1: disabled
    eng.run("SELECT count(*) AS n FROM region")
    assert len(eng.notices()) == base + 1


def test_matview_refresh_replans_dependent_views(tmp_path, spark):
    """Review regression: REFRESH MATERIALIZED VIEW overwrites the
    parquet files, so dependent logical views must re-plan (their
    frozen plans point at the deleted files)."""
    eng = Engine(spark)
    df = spark.createDataFrame([(1, 5.0)], "id long, v double")
    eng.create_table("mbase", df, str(tmp_path / "mbase"),
                     distributed_by=["id"])
    eng.create_materialized_view(
        "mv1", "SELECT id, v FROM mbase", str(tmp_path / "mv1")
    )
    eng.create_view("vm", "SELECT count(*) AS n, sum(v) AS s FROM mv1")
    assert eng.sql("SELECT n FROM vm").collect()[0].n == 1

    eng.execute_dml("INSERT INTO mbase VALUES (2, 7.0)")
    # matview frozen until refresh — and the dependent view with it
    assert eng.sql("SELECT n FROM vm").collect()[0].n == 1
    eng.refresh_materialized_view("mv1")
    row = eng.sql("SELECT n, s FROM vm").collect()[0]
    assert row.n == 2 and row.s == 12.0


def test_pgstattuple_and_prewarm(tmp_path, spark):
    """contrib/pgstattuple + pg_prewarm analogs: physical stats over the
    parquet table (dead/free structurally 0 on copy-on-write storage),
    and persist-based prewarm returning the cached row count."""
    eng = Engine(spark)
    df = spark.range(100).selectExpr("id", "id * 2.0 AS v")
    eng.create_table("stat_t", df, str(tmp_path / "stat_t"),
                     distributed_by=["id"])

    s = eng.pgstattuple("stat_t")
    assert s["tuple_count"] == 100
    assert s["data_files"] >= 1
    assert s["table_len"] > 0 and s["tuple_len"] == s["table_len"]
    assert s["dead_tuple_count"] == 0 and s["free_space"] == 0
    assert s["avg_tuple_len"] == s["table_len"] / 100

    # DML rewrite keeps stats current (no dead tuples by construction)
    eng.execute_dml("DELETE FROM stat_t WHERE id >= 50")
    s2 = eng.pgstattuple("stat_t")
    assert s2["tuple_count"] == 50 and s2["dead_tuple_count"] == 0

    assert eng.prewarm("stat_t") == 50
    # re-warm replaces the cached frame without leaking the old one
    assert eng.prewarm("stat_t") == 50


def test_prewarm_rewarm_keeps_cache(tmp_path, spark):
    """Review regression: old and new prewarm frames share ONE cache
    entry (same canonical plan), so the stale entry must be dropped
    BEFORE re-persisting — the previous order left the table cold
    after every re-warm."""
    eng = Engine(spark)
    df = spark.range(10).selectExpr("id")
    eng.create_table("warm_t", df, str(tmp_path / "warm_t"),
                     distributed_by=["id"])
    eng.prewarm("warm_t")
    eng.prewarm("warm_t")  # re-warm
    lvl = eng._prewarmed["warm_t"].storageLevel
    assert lvl.useMemory or lvl.useDisk  # still cached after re-warm

def test_execute_unknown_prepared_statement_errors(spark, sf_dir):
    """Round-6 review: EXECUTE of an unknown name raises the reference's
    clean does-not-exist error instead of falling through to an opaque
    Spark parse failure."""
    import pytest

    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    with pytest.raises(ValueError, match='prepared statement "nosuch"'):
        eng.sql("EXECUTE nosuch(1)")


def test_set_time_zone_takes_effect(spark, sf_dir):
    """SET TIME ZONE governs timestamptz rendering like PG's TimeZone
    GUC (guc.c): the same instant shows as local wall-clock time."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    try:
        eng.sql("SET TIME ZONE 'Europe/Moscow'")
        # session-zone rendering happens IN-PLAN (cast to text), like
        # PG's output function; PySpark's collect() converts with the
        # JVM zone and is not the product surface
        row = eng.sql(
            "SELECT ('2011-03-26 21:00:00 UTC'::timestamptz)::text AS t"
        ).collect()[0]
        assert row.t == "2011-03-27 00:00:00"
        shown = eng.sql("SHOW timezone").collect()[0]
        assert shown.setting == "Europe/Moscow"
        # abbreviation + LOCAL restore paths
        eng.sql("SET TIME ZONE 'MSK'")
        assert (
            eng.sql("SHOW timezone").collect()[0].setting == "Europe/Moscow"
        )
        eng.sql("SET TIME ZONE LOCAL")
        row = eng.sql(
            "SELECT ('2011-03-26 21:00:00 UTC'::timestamptz)::text AS t"
        ).collect()[0]
        assert row.t == "2011-03-26 21:00:00"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_set_datestyle_field_order(spark, sf_dir):
    """SET datestyle switches ambiguous-date input order (guc.c); the
    regress date.sql runs the same literals under all three."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    try:
        assert str(eng.sql("SELECT date '01/02/03' AS d").collect()[0].d) \
            == "2003-01-02"
        eng.sql("SET datestyle TO ISO, DMY")
        assert str(eng.sql("SELECT date '01/02/03' AS d").collect()[0].d) \
            == "2003-02-01"
        eng.sql("SET datestyle = 'ISO, YMD'")
        assert str(eng.sql("SELECT date '01/02/03' AS d").collect()[0].d) \
            == "2001-02-03"
        eng.sql("RESET datestyle")
        assert str(eng.sql("SELECT date '01/02/03' AS d").collect()[0].d) \
            == "2003-01-02"
    finally:
        from gpdb_spark.dialect import set_date_order
        set_date_order("mdy")


def test_maintenance_statements_sql(spark, sf_dir, tmp_path):
    """VACUUM / ANALYZE / TRUNCATE / CREATE TABLE (coldefs) as SQL text
    (vacuumlazy.c, analyze.c, tablecmds.c ExecuteTruncate and
    DefineRelation): the statements every ported maintenance script
    emits."""
    import pytest as _pt
    from pyspark.sql import functions as F
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql(
        "CREATE TEMP TABLE mt1 (a int, b text NOT NULL,"
        " c numeric(10,2) DEFAULT 0, PRIMARY KEY (a))"
        " DISTRIBUTED BY (a)"
    )
    assert eng.table("mt1").count() == 0
    assert [f.dataType.simpleString() for f in eng.table("mt1").schema.fields] \
        == ["int", "string", "decimal(10,2)"]
    eng.insert_into(
        "mt1",
        spark.sql("SELECT 1 a, 'x' b, CAST(1.5 AS DECIMAL(10,2)) c"),
    )
    # many small inserts -> VACUUM compacts the files (AO compaction
    # analog); row content is untouched
    for i in range(2, 5):
        eng.insert_into(
            "mt1",
            spark.sql(f"SELECT {i} a, 'y' b, CAST(0 AS DECIMAL(10,2)) c"),
        )
    assert eng.sql("VACUUM FULL ANALYZE mt1").collect()[0].status == "VACUUM"
    assert eng.table("mt1").count() == 4
    assert eng._table_stats["mt1"]["reltuples"] == 4
    # ANALYZE of a fixture view records the reltuples analog
    eng.sql("ANALYZE nation")
    assert eng._table_stats["nation"]["reltuples"] == 25
    # TRUNCATE empties but keeps the schema; fixture views refuse
    eng.sql("TRUNCATE mt1")
    assert eng.table("mt1").count() == 0
    assert len(eng.table("mt1").schema.fields) == 3
    with _pt.raises(ValueError, match="not an engine-governed"):
        eng.sql("TRUNCATE nation")


def test_dml_sql_routes_through_governed_path(spark, sf_dir):
    """INSERT/UPDATE/DELETE as single SQL statements route through
    execute_dml (ExecModifyTable: placement, triggers, copy-on-write)
    and return PG command tags — not Spark's file-source passthrough,
    which would write behind the GpTable's back."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TEMP TABLE dmlt (a int, b text) DISTRIBUTED BY (a)")
    assert eng.sql(
        "INSERT INTO dmlt VALUES (1, 'x'), (2, 'y')"
    ).collect()[0].status == "INSERT 0 2"
    assert eng.sql(
        "INSERT INTO dmlt (b, a) VALUES ('z', 3)"
    ).collect()[0].status == "INSERT 0 1"
    assert eng.sql(
        "UPDATE dmlt SET b = 'w' WHERE a = 2"
    ).collect()[0].status == "UPDATE 1"
    assert eng.sql("DELETE FROM dmlt WHERE a = 1").collect()[0].status \
        == "DELETE 1"
    assert sorted(tuple(r) for r in eng.table("dmlt").collect()) == [
        (2, "w"), (3, "z")]


def test_alter_table_and_copy_sql(spark, sf_dir, tmp_path):
    """ALTER TABLE RENAME/ADD/DROP/SET DISTRIBUTED and COPY FROM/TO as
    SQL text (tablecmds.c, commands/copy.c). Column changes are
    copy-on-write rewrites (parquet footers own the names); DEFAULT
    fills existing rows."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TEMP TABLE alt1 (a int, b text) DISTRIBUTED BY (a)")
    eng.sql("INSERT INTO alt1 VALUES (1,'x'), (2,'y')")
    eng.sql("ALTER TABLE alt1 ADD COLUMN c numeric(8,2) DEFAULT 1.5")
    rows = {tuple(r) for r in eng.table("alt1").collect()}
    assert all(str(r[2]) == "1.50" for r in rows)
    # distkey drop refuses while hash-distributed
    with _pt.raises(ValueError, match="distribution-key"):
        eng.sql("ALTER TABLE alt1 DROP COLUMN a")
    eng.sql("ALTER TABLE alt1 RENAME COLUMN b TO label")
    eng.sql("ALTER TABLE alt1 DROP COLUMN c")
    eng.sql("ALTER TABLE alt1 RENAME TO alt2")
    assert eng.table("alt2").columns == ["a", "label"]
    assert "alt2" in eng._tables and "alt1" not in eng._tables
    out = str(tmp_path / "unload_dir")
    tag = eng.sql(
        "COPY (SELECT n_nationkey, n_name FROM nation"
        " WHERE n_nationkey < 3) TO '" + out + "' CSV HEADER"
    ).collect()[0].status
    assert tag == "COPY 3"
    eng.sql("CREATE TEMP TABLE cpl (n_nationkey bigint, n_name text)")
    tag = eng.sql(
        "COPY cpl FROM '" + out + "' CSV HEADER"
    ).collect()[0].status
    assert tag == "COPY 3"
    assert eng.table("cpl").count() == 3
    with _pt.raises(ValueError, match="engine-governed"):
        eng.sql("COPY nation FROM '" + out + "' CSV HEADER")


def test_create_index_and_cluster_sql(spark, sf_dir):
    """CREATE INDEX records the definition (parquet row-group pruning
    replaces index AMs); CLUSTER ... USING performs the real physical
    reorder through GpTable.cluster_by."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TEMP TABLE ct (k int, v text) DISTRIBUTED BY (k)")
    for i in (5, 3, 1, 4, 2):
        eng.sql(f"INSERT INTO ct VALUES ({i}, 'v{i}')")
    assert eng.sql(
        "CREATE INDEX ct_k_idx ON ct USING btree (k)"
    ).collect()[0].status == "CREATE INDEX"
    assert eng._indexes["ct_k_idx"]["columns"] == ["k"]
    eng.sql("CLUSTER ct USING ct_k_idx")
    assert eng._tables["ct"].sort_by == ("k",)
    assert eng.table("ct").count() == 5
    with _pt.raises(ValueError, match="CREATE INDEX first"):
        eng.sql("CLUSTER ct USING nosuch")
    eng.sql("DROP INDEX ct_k_idx")
    assert "ct_k_idx" not in eng._indexes


def test_view_and_matview_sql(spark, sf_dir):
    """CREATE/DROP VIEW + MATERIALIZED VIEW + REFRESH as SQL text, with
    dependency-aware RESTRICT/CASCADE (tablecmds.c RemoveRelations +
    dependency.c)."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql(
        "CREATE VIEW v_nat AS SELECT n_regionkey, count(*)::int8 AS n "
        "FROM nation GROUP BY n_regionkey")
    assert eng.sql("SELECT * FROM v_nat").count() == 5
    eng.sql(
        "CREATE MATERIALIZED VIEW mv_nat AS "
        "SELECT * FROM v_nat WHERE n >= 5 WITH DATA")
    assert "mv_nat" in eng._matviews
    base = eng.sql("SELECT * FROM mv_nat").count()
    assert base == 5
    eng.sql("CREATE VIEW v_top AS SELECT max(n) AS top FROM mv_nat")
    eng.sql("REFRESH MATERIALIZED VIEW mv_nat")
    assert eng.sql("SELECT * FROM v_top").collect()[0].top == 5
    # RESTRICT (default) refuses while v_top depends on mv_nat
    with _pt.raises(ValueError, match="depends"):
        eng.sql("DROP MATERIALIZED VIEW mv_nat")
    eng.sql("DROP MATERIALIZED VIEW mv_nat CASCADE")
    assert "v_top" not in eng._views and "mv_nat" not in eng._matviews
    eng.sql("DROP VIEW v_nat")
    with _pt.raises(ValueError, match="does not exist"):
        eng.sql("DROP VIEW v_nat")
    eng.sql("DROP VIEW IF EXISTS v_nat")  # no-op, no raise
    with _pt.raises(ValueError, match="WITH NO DATA"):
        eng.sql("CREATE MATERIALIZED VIEW m2 AS SELECT 1 AS x WITH NO DATA")


def test_ctas_select_into_drop_table_sql(spark, sf_dir):
    """CREATE TABLE AS (createas.c, GPDB trailing DISTRIBUTED BY) and
    SELECT INTO rewrite; DROP TABLE reclaims storage."""
    import os as _os

    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    tag = eng.sql(
        "CREATE TABLE ct_as AS SELECT n_nationkey AS k, n_name "
        "FROM nation WHERE n_regionkey = 0 DISTRIBUTED BY (k)"
    ).collect()[0].status
    assert tag.startswith("SELECT ")
    assert eng._tables["ct_as"].policy.distkey == ("k",)
    n = eng.table("ct_as").count()
    assert n == int(tag.split()[1]) and n > 0
    eng.sql(
        "SELECT n_nationkey AS k INTO ct_into FROM nation "
        "WHERE n_regionkey = 1")
    assert eng.table("ct_into").count() > 0
    path = eng._tables["ct_as"].path
    eng.sql("DROP TABLE ct_as")
    assert "ct_as" not in eng._tables and not _os.path.exists(path)
    eng.sql("DROP TABLE IF EXISTS ct_as")
    with _pt.raises(ValueError, match="does not exist"):
        eng.sql("DROP TABLE ct_as")
    eng.sql("DROP TABLE ct_into")


def test_explain_sql_text(spark, sf_dir):
    """EXPLAIN [ANALYZE] as SQL text returns PG's one-text-column
    QUERY PLAN shape with the Motion vocabulary."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    rows = eng.sql(
        "EXPLAIN SELECT n_regionkey, count(*) FROM nation "
        "GROUP BY n_regionkey").collect()
    assert rows and rows[0].__fields__ == ["QUERY PLAN"]
    txt = "\n".join(r["QUERY PLAN"] for r in rows)
    assert "Motion" in txt or "Aggregate" in txt or "HashAggregate" in txt
    rows2 = eng.sql("EXPLAIN ANALYZE SELECT count(*) AS c FROM region")
    assert rows2.count() > 0


def test_do_and_create_function_sql(spark, sf_dir):
    """DO blocks and CREATE/DROP FUNCTION ... LANGUAGE plpgsql as
    single statements through Engine.sql (exec_simple_query path)."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    assert eng.sql(
        "DO $$ BEGIN RAISE NOTICE 'hi %', 41 + 1; END $$"
    ).collect()[0].status == "DO"
    assert "hi 42" in eng.notices()[-1]
    eng.sql(
        "CREATE FUNCTION add2(a int, b int) RETURNS int AS $$ "
        "BEGIN RETURN a + b; END $$ LANGUAGE plpgsql")
    assert eng.call("add2", 3, 4) == 7
    eng.sql("DROP FUNCTION add2")
    assert "add2" not in eng._plfuncs
    with _pt.raises(ValueError, match="does not exist"):
        eng.sql("DROP FUNCTION add2")
    eng.sql("DROP FUNCTION IF EXISTS add2")


def test_select_into_not_fooled_by_literal(spark, sf_dir):
    """A string literal containing ' into x from y' is NOT a
    select_into (quote-parity guard)."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    rows = eng.sql("SELECT 'go into t9 from here' AS s").collect()
    assert rows[0].s == "go into t9 from here"
    assert "t9" not in eng._tables


def test_explain_never_executes_dml(spark, sf_dir):
    """Plain EXPLAIN over DML refuses loudly rather than executing the
    statement (explain.c only plans unless ANALYZE)."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TEMP TABLE exdml (k int) DISTRIBUTED BY (k)")
    eng.sql("INSERT INTO exdml VALUES (1)")
    with _pt.raises(ValueError, match="EXPLAIN"):
        eng.sql("EXPLAIN INSERT INTO exdml VALUES (2)")
    assert eng.table("exdml").count() == 1
    eng.sql("DROP TABLE exdml")


# -- round 10: inheritance DML cascade + catalog unbind (VERDICT r09 --
# What's-wrong #2, ADVICE r09 #1/#2/#5) ------------------------------


def _mk_family(eng):
    eng.sql("CREATE TABLE r10person (pname text, age int)"
            " DISTRIBUTED BY (pname)")
    eng.sql("CREATE TABLE r10emp (salary int) INHERITS (r10person)")
    eng.sql("INSERT INTO r10person VALUES ('p1', 30), ('p2', 40)")
    eng.sql("INSERT INTO r10emp VALUES ('e1', 30, 100), ('e2', 50, 200)")


def test_inherit_update_delete_cascade(spark, sf_dir):
    """UPDATE/DELETE on a parent touches child rows too (PG's inclusive
    default, ExecModifyTable over the inheritance expansion); ONLY
    restricts to the parent's own rows (VERDICT r09 What's-wrong #2:
    children used to be silently skipped)."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    _mk_family(eng)
    try:
        # inclusive UPDATE: the age=30 rows in BOTH tables change
        # (table() reads are inclusive too: e1,e2,p1,p2 by name)
        eng.sql("UPDATE r10person SET age = 31 WHERE age = 30")
        assert [r.age for r in eng.table("r10person").orderBy(
            "pname").collect()] == [31, 50, 31, 40]
        assert [r.age for r in eng.gp_table("r10emp").read(
            spark).orderBy("pname").collect()] == [31, 50]
        # ONLY: child rows untouched
        eng.sql("UPDATE ONLY r10person SET age = 32 WHERE age = 31")
        assert [r.age for r in eng.gp_table("r10emp").read(
            spark).orderBy("pname").collect()] == [31, 50]
        # inclusive DELETE
        eng.sql("DELETE FROM r10person WHERE age = 31")
        assert eng.gp_table("r10emp").read(spark).count() == 1
        eng.sql("DELETE FROM ONLY r10person WHERE age = 50")
        assert eng.gp_table("r10emp").read(spark).count() == 1
        # p1 (now 32 via the ONLY update), p2, e2 via the union view
        assert eng.table("r10person").count() == 3
        # TRUNCATE recurses to children (tablecmds.c ExecuteTruncate)
        eng.sql("TRUNCATE r10person")
        assert eng.table("r10person").count() == 0
        assert eng.gp_table("r10emp").read(spark).count() == 0
    finally:
        eng.sql("DROP TABLE IF EXISTS r10person CASCADE")


def test_inherit_drop_bookkeeping(spark, sf_dir):
    """ADVICE r09 #1: dropping a child must clean _inherits and keep
    the parent readable; dropping a parent with children refuses
    without CASCADE and drops them with it."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    _mk_family(eng)
    with _pt.raises(ValueError, match="depend"):
        eng.sql("DROP TABLE r10person")
    eng.sql("DROP TABLE r10emp")
    # parent view no longer references the dropped child
    assert eng.table("r10person").count() == 2
    eng.sql("INSERT INTO r10person VALUES ('p3', 60)")
    assert eng.table("r10person").count() == 3
    eng.sql("DROP TABLE r10person")
    # recreate the family, drop the parent with CASCADE
    _mk_family(eng)
    eng.sql("DROP TABLE r10person CASCADE")
    assert "r10emp" not in eng._tables
    assert "r10person" not in getattr(eng, "_inherits", {})


def test_create_existing_table_errors(spark, sf_dir):
    """heap.c: duplicate relation names error; IF NOT EXISTS skips
    (the old path silently replaced the table)."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r10dup (k int) DISTRIBUTED BY (k)")
    try:
        eng.sql("INSERT INTO r10dup VALUES (7)")
        with _pt.raises(ValueError, match="already exists"):
            eng.sql("CREATE TABLE r10dup (k text)")
        eng.sql("CREATE TABLE IF NOT EXISTS r10dup (k text)")
        assert eng.table("r10dup").collect()[0].k == 7
    finally:
        eng.sql("DROP TABLE r10dup")


def test_drop_unbinds_geo_enum_catalog(spark, sf_dir):
    """ADVICE r09 #2: DROP TABLE unbinds the dialect's bare-name
    geo/enum column routing — a same-named column recreated with a
    different type must not be misrouted."""
    from gpdb_spark import dialect as _d
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r10geo (g10 point) DISTRIBUTED BY (g10)")
    assert _d._GEO_COLS.get("g10") == "point"
    eng.sql("DROP TABLE r10geo")
    assert "g10" not in _d._GEO_COLS
    # recreate as text: value survives a round-trip untouched
    eng.sql("CREATE TABLE r10geo (g10 text) DISTRIBUTED BY (g10)")
    eng.sql("INSERT INTO r10geo VALUES ('(9,9)')")
    assert eng.sql("SELECT g10 FROM r10geo").collect()[0].g10 == "(9,9)"
    eng.sql("DROP TABLE r10geo")
    # enum binding follows the same discipline
    eng.sql("CREATE TYPE r10mood AS ENUM ('sad', 'ok', 'happy')")
    eng.sql("CREATE TABLE r10moods (m10 r10mood) DISTRIBUTED BY (m10)")
    assert _d._ENUM_COLS.get("m10") == "r10mood"
    eng.sql("DROP TABLE r10moods")
    assert "m10" not in _d._ENUM_COLS
    eng.sql("DROP TYPE r10mood")


def test_update_copy_canon_discipline(spark, sf_dir):
    """ADVICE r09 #5: UPDATE and COPY run the same input functions as
    INSERT — geo text canonicalizes ('(3, 4)' stores as '(3,4)'),
    overlength varchar raises, bad geo input raises."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r10canon (k int, pt point, v varchar(5))"
            " DISTRIBUTED BY (k)")
    try:
        eng.sql("INSERT INTO r10canon VALUES (1, '(1,2)', 'abc')")
        eng.sql("UPDATE r10canon SET pt = '( 3.0 , 4.50 )' WHERE k = 1")
        assert eng.sql("SELECT pt FROM r10canon").collect()[0].pt \
            == "(3,4.5)"
        with _pt.raises(Exception, match="invalid input|too long"):
            eng.sql("UPDATE r10canon SET pt = 'nonsense' WHERE k = 1")
        with _pt.raises(Exception, match="too long"):
            eng.sql("UPDATE r10canon SET v = 'abcdefgh' WHERE k = 1")
        # trailing-space excess is allowed (varchar.c)
        eng.sql("UPDATE r10canon SET v = 'abcde   ' WHERE k = 1")
        assert eng.sql("SELECT v FROM r10canon").collect()[0].v \
            == "abcde"
    finally:
        eng.sql("DROP TABLE r10canon")


def test_avg_bigint_no_overflow(spark, sf_dir):
    """ADVICE r09 #4: engine-front-door avg over bigints >= 1e14 must
    compute exactly (the DECIMAL(26,12) input cast overflowed to NULL
    and silently excluded rows)."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r10big (v bigint) DISTRIBUTED BY (v)")
    try:
        eng.sql("INSERT INTO r10big VALUES (200000000000000),"
                " (100000000000001)")
        got = eng.sql("SELECT avg(v) AS a FROM r10big").collect()[0].a
        assert str(got) == "150000000000000.5000000000000000"
    finally:
        eng.sql("DROP TABLE r10big")


# -- round 10: aggregates.sql burn-down machinery ---------------------


def test_exact_numeric_stddev(spark, sf_dir):
    """stddev/variance over ::numeric operands compute in exact decimal
    with numeric.c's select_div_scale result scale (aggregates.out
    golden images, reference numeric.c:4376)."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r10aggtest (a int2, b float4)"
            " DISTRIBUTED BY (a)")
    try:
        eng.sql("INSERT INTO r10aggtest VALUES (56, 7.8), (100, 99.097),"
                " (0, 0.09561), (42, 324.78)")
        want = {
            "stddev_pop": "131.107032862199",
            "stddev_samp": "151.389361431288",
            "var_pop": "17189.054065929769",
            "var_samp": "22918.738754573025",
        }
        for fn, w in want.items():
            got = eng.sql(
                f"SELECT {fn}(b::numeric) FROM r10aggtest").collect()[0][0]
            assert str(got) == w, (fn, got, w)
    finally:
        eng.sql("DROP TABLE r10aggtest")


def test_bytea_string_agg_heap_order(spark, sf_dir):
    """string_agg over bytea concatenates binary in heap order
    (aggregates.sql:634-650): decode('hex') inserts, empty/NULL/bytea
    separators, insertion-ordered result."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("create table r10bytea(gpDistKey int, v bytea)")
    try:
        assert eng.sql("select string_agg(v, '') from r10bytea"
                       ).collect()[0][0] is None
        eng.sql("insert into r10bytea(v) values(decode('ff','hex'))")
        eng.sql("insert into r10bytea(v) values(decode('aa','hex'))")
        got = eng.sql("select string_agg(v, '') from r10bytea"
                      ).collect()[0][0]
        assert bytes(got).hex() == "ffaa"
        got = eng.sql("select string_agg(v, NULL) from r10bytea"
                      ).collect()[0][0]
        assert bytes(got).hex() == "ffaa"
        got = eng.sql("select string_agg(v, decode('ee', 'hex'))"
                      " from r10bytea").collect()[0][0]
        assert bytes(got).hex() == "ffeeaa"
        got = eng.sql("select encode(string_agg(v, ''), 'hex')"
                      " from r10bytea").collect()[0][0]
        assert got == "ffaa"
    finally:
        eng.sql("drop table r10bytea")


def test_bit_aggregates(spark, sf_dir):
    """bit_and/bit_or over stored BIT(4) columns (aggregates.sql:131-
    168): conv-based routing keeps the 0101 text image and width."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r10bits(i2 INT2, y BIT(4))")
    try:
        r = eng.sql("SELECT BIT_AND(y) AS a, BIT_OR(y) AS b"
                    " FROM r10bits").collect()[0]
        assert r.a is None and r.b is None
        eng.sql("INSERT INTO r10bits VALUES (1, B'0101'), (3, B'0100'),"
                " (7, B'1100')")
        r = eng.sql("SELECT BIT_AND(i2) AS a, BIT_AND(y) AS b,"
                    " BIT_OR(i2) AS c, BIT_OR(y) AS d"
                    " FROM r10bits").collect()[0]
        assert [r.a, r.b, r.c, r.d] == [1, "0100", 7, "1101"]
    finally:
        eng.sql("DROP TABLE r10bits")


def test_percentile_rewrites(spark, sf_dir):
    """percentile_disc over text / 2-D fraction arrays / non-foldable
    fractions (orderedsetaggs.c:407,542; aggregates.sql:526,563,570)."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    r = eng.sql(
        "select percentile_disc(array[0.25,0.5,0.75]) within group"
        " (order by x) from (values ('fred'),('jim'),('fred'),('jack'),"
        "('jill'),('fred'),('jill'),('jim'),('jim'),('sheila'),('jim'),"
        "('sheila')) u(x)").collect()[0][0]
    assert r == ["fred", "jill", "jim"]
    r = eng.sql(
        "select percentile_disc(array[[null,1,0.5],[0.75,0.25,null]])"
        " within group (order by x) from (values (1),(2),(3),(4)) v(x)"
    ).collect()[0][0]
    assert [list(x) for x in r] == [[None, 4, 2], [3, 1, None]]
    rows = eng.sql(
        "select p, percentile_cont(p) within group (order by x::float8)"
        " as v from (values (1),(2),(3),(4),(5)) g(x),"
        " (values (0::float8),(0.5),(1)) v(p) group by p order by p"
    ).collect()
    assert [(float(r.p), r.v) for r in rows] == [
        (0.0, 1.0), (0.5, 3.0), (1.0, 5.0)]


def test_ordered_set_error_contracts(spark, sf_dir):
    """parse_agg.c/parse_collate.c refusals: ungrouped direct args and
    explicit-collation mismatch error instead of succeeding
    (aggregates.sql:583,597 expected errors — were ERR_MISS)."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    with _pt.raises(Exception, match="GROUP BY"):
        eng.sql("select rank(x) within group (order by x)"
                " from (values (1),(2)) v(x)").collect()
    with _pt.raises(Exception, match="collation mismatch"):
        eng.sql('select rank(\'adam\'::text collate "C") within group'
                ' (order by x collate "POSIX")'
                " from (values ('fred'),('jim')) v(x)").collect()


def test_create_aggregate_ordered_set_alias(spark, sf_dir):
    """CREATE AGGREGATE over builtin ordered-set final functions +
    ALTER AGGREGATE RENAME (create_aggregate.sql:85-103)."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("create aggregate r10_pd(float8 ORDER BY anyelement)"
            " (stype = internal, sfunc = ordered_set_transition,"
            " finalfunc = percentile_disc_final, finalfunc_extra = true)")
    eng.sql("alter aggregate r10_pd(float8 ORDER BY anyelement)"
            " rename to r10_test_pd")
    r = eng.sql("select r10_test_pd(0.5) within group (order by x)"
                " from (values (1),(2),(3),(4)) v(x)").collect()[0][0]
    assert r == 2


def test_srf_after_aggregate(spark, sf_dir):
    """generate_series in the select list applies AFTER aggregation
    (ExecProjectSRF; aggregates.sql 'select max(unique2),
    generate_series(1,3)')."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    rows = eng.sql("select max(x), generate_series(1,3) as g"
                   " from (values (5),(9)) v(x) order by g desc"
                   ).collect()
    assert [(r[0], r[1]) for r in rows] == [(9, 3), (9, 2), (9, 1)]


def test_boolfunc_statefuncs(spark, sf_dir):
    """booland/boolor_statefunc are STRICT (bool.c): NULL in -> NULL
    out, else plain AND/OR (aggregates.sql:120-130)."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    r = eng.sql(
        "SELECT booland_statefunc(FALSE, NULL) IS NULL AS a,"
        " boolor_statefunc(TRUE, NULL) IS NULL AS b,"
        " booland_statefunc(TRUE, TRUE) AS c,"
        " boolor_statefunc(FALSE, FALSE) AS d").collect()[0]
    assert [r.a, r.b, r.c, r.d] == [True, True, True, False]


# -- round 10: UPDATE..FROM / DELETE..USING, float contracts, ---------
# DateStyle output, per-value literal scale -----------------------


def test_update_from_delete_using(spark, sf_dir):
    """UPDATE ... FROM resolves SET expressions inside the join
    (case.sql:151-155 — the round-10 silent-wrong through the SQL
    front door); DELETE ... USING deletes the semi-join."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r10case (i integer, f double precision)")
    eng.sql("CREATE TABLE r10case2 (i integer, j integer)")
    try:
        eng.sql("INSERT INTO r10case VALUES (-12, NULL), (-9, -30.3),"
                " (4, 10.1), (8, 20.2)")
        eng.sql("INSERT INTO r10case2 VALUES (1, -1), (2, -2), (3, -3),"
                " (2, -4), (1, -6)")
        eng.sql("""UPDATE r10case
          SET i = CASE WHEN b.i >= 2 THEN (2 * j) ELSE (3 * j) END
          FROM r10case2 b WHERE j = -r10case.i""")
        got = sorted(
            ((r.i, r.f) for r in eng.table("r10case").collect()),
            key=repr)
        assert sorted([(-12, None), (-9, -30.3), (-8, 10.1), (8, 20.2)],
                      key=repr) == got
        eng.sql("DELETE FROM r10case USING r10case2 b"
                " WHERE r10case.i = 4 * b.i")  # 8 = 4*2 -> deleted
        assert sorted(r.i for r in eng.table("r10case").collect()) \
            == [-12, -9, -8]
    finally:
        eng.sql("DROP TABLE r10case")
        eng.sql("DROP TABLE r10case2")


def test_float8_input_contracts(spark, sf_dir):
    """float8in's strtod ERANGE contract on INSERT (float.c:304):
    overflow/underflow text errors, [+-]NaN parses, self-qualified
    UPDATE works (float8.sql ERR_MISS class)."""
    import math
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r10f8 (f1 float8)")
    try:
        eng.sql("INSERT INTO r10f8(f1) VALUES ('    0.0   ')")
        eng.sql("INSERT INTO r10f8(f1) VALUES ('1.2345678901234e+200')")
        for bad in ("10e400", "-10e400", "1e309", "10e-400", "1e-324"):
            with _pt.raises(Exception, match="out of range"):
                eng.sql(f"INSERT INTO r10f8(f1) VALUES ('{bad}')")
        eng.sql("INSERT INTO r10f8(f1) VALUES ('+naN'::float8)")
        vals = [r.f1 for r in eng.table("r10f8").collect()]
        assert any(v is not None and math.isnan(v) for v in vals)
        eng.sql("DELETE FROM r10f8 WHERE f1='+naN'::float8"
                " OR f1 <> f1")
        eng.sql("UPDATE r10f8 SET f1 = r10f8.f1 * '-1' WHERE f1 > '0.0'")
        assert sorted(r.f1 for r in eng.table("r10f8").collect()) \
            == [-1.2345678901234e+200, 0.0]
    finally:
        eng.sql("DROP TABLE r10f8")


def test_float8_runtime_contracts(spark, sf_dir):
    """CHECKFLOATVAL on column arithmetic (float.c): overflow raises
    instead of producing Infinity; ln/exp domain errors; ceil/floor/
    trunc keep float8 typing (Spark's ceil(double) saturates BIGINT)."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r10fops (f1 float8)")
    try:
        eng.sql("INSERT INTO r10fops VALUES ('1.2345678901234e+200'),"
                " ('1004.3'), ('0.0')")
        with _pt.raises(Exception, match="out of range"):
            eng.sql("SELECT f1 * '1e200' FROM r10fops").collect()
        with _pt.raises(Exception, match="out of range"):
            eng.sql("SELECT f1 ^ '1e200' FROM r10fops").collect()
        with _pt.raises(Exception, match="logarithm of zero"):
            eng.sql("SELECT ln(f1) FROM r10fops WHERE f1 = '0.0'"
                    ).collect()
        with _pt.raises(Exception, match="out of range"):
            eng.sql("SELECT exp(f1) FROM r10fops").collect()
        r = eng.sql("SELECT ceil(f1) AS c FROM r10fops"
                    " WHERE f1 > '1e10'").collect()[0].c
        assert r == 1.2345678901234e+200
        r = eng.sql("SELECT floor(f1) AS c, trunc(f1) AS t FROM r10fops"
                    " WHERE f1 = '1004.3'").collect()[0]
        assert (r.c, r.t) == (1004.0, 1004.0)
    finally:
        eng.sql("DROP TABLE r10fops")


def test_union_values_literal_scale(spark, sf_dir):
    """Per-value numeric display scale through literal UNION chains and
    VALUES (parse_coerce.c select_common_type: '2' stays '2' next to
    '1.1', not '2.0')."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    got = sorted(str(r[0]) for r in eng.sql(
        "SELECT 1.1 AS two UNION SELECT 2").collect())
    assert got == ["1.1", "2"]
    got = sorted((str(r[0]), str(r[1])) for r in eng.sql(
        "VALUES (1,2), (3,4+4), (7,77.7)").collect())
    assert got == [("1", "2"), ("3", "8"), ("7", "77.7")]
    # homogeneous literals keep their numeric typing
    got = eng.sql("SELECT 1 AS x UNION SELECT 2").collect()
    assert sorted(r.x for r in got) == [1, 2]


def test_datestyle_output_hook(spark, sf_dir):
    """EncodeDateOnly inside concat (datetime.c:4117): under
    'Postgres, MDY' a date prints MM-DD-YYYY and booleans print t/f
    (text.sql golden images); ISO restores Spark's native images."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("SET datestyle = 'Postgres, MDY'")
    try:
        r = eng.sql("select concat(1,2,3,'hello',true, false,"
                    " to_date('20100309','YYYYMMDD')) AS c"
                    ).collect()[0].c
        assert r == "123hellotf03-09-2010"
        r = eng.sql("select concat_ws('#',1,2,3,'hello',true, false,"
                    " to_date('20100309','YYYYMMDD')) AS c"
                    ).collect()[0].c
        assert r == "1#2#3#hello#t#f#03-09-2010"
    finally:
        eng.sql("RESET datestyle")
    r = eng.sql("select concat('x', to_date('20100309','YYYYMMDD'))"
                " AS c").collect()[0].c
    assert r == "x2010-03-09"


def test_composite_type_record_canon(spark, sf_dir):
    """CREATE TYPE AS (...) composite: record_in validation +
    record_out canonical image (rowtypes.c; text.sql:39-40)."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TYPE r10comp as (id int, name text)")
    try:
        r = eng.sql("SELECT '(1,abc)'::text::r10comp AS t"
                    ).collect()[0].t
        assert r == "(1,abc)"
        for bad in ("'(1,abc,zz)'", "'(x,abc)'", "'1,abc)'"):
            with _pt.raises(Exception):
                eng.sql(f"SELECT {bad}::text::r10comp").collect()
    finally:
        eng.sql("DROP TYPE r10comp")


def test_float_column_int_cast_rounds(spark, sf_dir):
    """Catalog-typed float COLUMNS round on ::int casts like PG rint
    (the r9 pass covered statically-typed operands only)."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r10fcast (a float4, b float8)")
    try:
        eng.sql("INSERT INTO r10fcast VALUES ('2.5', '-2.5'),"
                " ('3.5', '3.5')")
        r = eng.sql("SELECT a::int4 AS ai, b::int4 AS bi FROM r10fcast"
                    " ORDER BY 1").collect()
        assert [(x.ai, x.bi) for x in r] == [(2, -2), (4, 4)]
    finally:
        eng.sql("DROP TABLE r10fcast")


def test_lateral_generate_series_and_fn_casts(spark, sf_dir):
    """LATERAL generate_series in FROM (gram.y implicit-lateral SRF)
    and function-style casts (float8(x) IS a cast, parse_func.c)."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    r = eng.sql("select * from (values(1)) x(lb),"
                " lateral generate_series(lb,3) g(n)").collect()
    assert sorted((x.lb, x.n) for x in r) == [(1, 1), (1, 2), (1, 3)]
    r = eng.sql("select float8(count(*)) / 2 AS h"
                " from (values (1),(2),(3)) v(x)").collect()[0].h
    assert r == 1.5


def test_uuid_macaddr_types(spark, sf_dir):
    """uuid/macaddr canonical-text types (uuid.c/mac.c): every input
    spelling canonicalizes, literals in comparisons fold, macaddr
    bitwise ops and trunc work, unique indexes enforce."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r10mac (a int, b macaddr)")
    eng.sql("CREATE TABLE r10guid (g uuid)")
    try:
        for i, v in enumerate(["08:00:2b:01:02:03", "08-00-2b-01-02-03",
                               "08002b:010203", "0800.2b01.0203",
                               "08002b010203"]):
            eng.sql(f"INSERT INTO r10mac VALUES ({i}, '{v}')")
        rows = {r.b for r in eng.table("r10mac").collect()}
        assert rows == {"08:00:2b:01:02:03"}
        with _pt.raises(Exception, match="invalid input"):
            eng.sql("INSERT INTO r10mac VALUES (9, '0800:2b01:0203')")
        r = eng.sql("SELECT trunc(b) AS t, ~b AS n,"
                    " b & '00:00:00:ff:ff:ff' AS a FROM r10mac"
                    " WHERE a = 0").collect()[0]
        assert r.t == "08:00:2b:00:00:00"
        assert r.n == "f7:ff:d4:fe:fd:fc"
        assert r.a == "00:00:00:01:02:03"
        assert eng.sql("SELECT count(*) AS c FROM r10mac WHERE"
                       " b = '08002b010203'").collect()[0].c == 5
        # uuid: brace/bare/hyphen forms canonicalize; bad forms refuse
        eng.sql("INSERT INTO r10guid VALUES"
                " ('{22222222-2222-2222-2222-222222222222}')")
        eng.sql("INSERT INTO r10guid VALUES"
                " ('3f3e3c3b3a3039383736353433a2313e')")
        assert sorted(r.g for r in eng.table("r10guid").collect()) == [
            "22222222-2222-2222-2222-222222222222",
            "3f3e3c3b-3a30-3938-3736-353433a2313e"]
        with _pt.raises(Exception, match="invalid input"):
            eng.sql("INSERT INTO r10guid VALUES"
                    " ('111-11111-1111-1111-1111-111111111111')")
        # unique index: build-time + insert-time enforcement
        eng.sql("CREATE UNIQUE INDEX r10guid_u ON r10guid (g)")
        with _pt.raises(Exception, match="duplicate key"):
            eng.sql("INSERT INTO r10guid VALUES"
                    " ('22222222-2222-2222-2222-222222222222')")
        with _pt.raises(Exception, match="hash indexes"):
            eng.sql("CREATE INDEX r10mac_h ON r10mac USING hash (b)")
    finally:
        eng.sql("DROP INDEX r10guid_u")
        eng.sql("DROP TABLE r10mac")
        eng.sql("DROP TABLE r10guid")


def test_plain_domain_alias(spark, sf_dir):
    """CREATE DOMAIN name AS base: transparent alias in DDL + casts."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE DOMAIN r10dom AS text")
    try:
        assert eng.sql("SELECT 'hi'::r10dom AS x").collect()[0].x == "hi"
        eng.sql("CREATE TABLE r10domt (v r10dom)")
        eng.sql("INSERT INTO r10domt VALUES ('a')")
        assert eng.table("r10domt").collect()[0].v == "a"
        eng.sql("DROP TABLE r10domt")
    finally:
        eng.sql("DROP DOMAIN r10dom")


def test_time_column_canonical_text(spark, sf_dir):
    """TIME(p) columns store the canonical text image (date.c time_in
    + AdjustTimeForTypmod; Spark gates TimeType out of parquet DDL):
    AM/PM, ignored zone specs, date-prefixed input, and the
    region-zone-without-date error (time.sql)."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r10time (f1 time(2))")
    try:
        for v in ("00:00", "02:03 PST", "11:59:59.99 PM",
                  "2003-03-07 15:36:39 America/New_York"):
            eng.sql(f"INSERT INTO r10time VALUES ('{v}')")
        got = sorted(r.f1 for r in eng.table("r10time").collect())
        assert got == ["00:00:00", "02:03:00", "15:36:39",
                       "23:59:59.99"]
        with _pt.raises(Exception, match="time zone"):
            eng.sql("INSERT INTO r10time VALUES"
                    " ('15:36:39 America/New_York')")
        r = eng.sql("SELECT f1 FROM r10time WHERE f1 < '05:06:07'"
                    ).collect()
        assert sorted(x.f1 for x in r) == ["00:00:00", "02:03:00"]
    finally:
        eng.sql("DROP TABLE r10time")


def test_bool_comparison_functions(spark, sf_dir):
    """bool.c comparison functions by name (boolean.sql:
    booleq/boolne back the = and <> operators, false < true)."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    r = eng.sql("SELECT booleq(true, true) AS a,"
                " boolne(true, false) AS b, boollt(false, true) AS c,"
                " boolge(false, true) AS d").collect()[0]
    assert [r.a, r.b, r.c, r.d] == [True, True, True, False]


def test_setop_literal_scale_value_semantics(spark, sf_dir):
    """ADVICE r10 #1: literal set-op display images must sort/dedup on
    the numeric VALUE (parse_coerce.c unifies to numeric), never
    lexically on the image text."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    got = [str(r[0]) for r in eng.sql(
        "SELECT 2 UNION SELECT 10.5 ORDER BY 1").collect()]
    assert got == ["2", "10.5"]
    got = [str(r[0]) for r in eng.sql(
        "SELECT 2 UNION ALL SELECT 10.5 ORDER BY 1 DESC").collect()]
    assert got == ["10.5", "2"]
    # numeric-equal values dedup to ONE row (2 = 2.0 in numeric)
    assert len(eng.sql("SELECT 2 UNION SELECT 2.0").collect()) == 1
    got = [str(r[0]) for r in eng.sql(
        "SELECT 2 INTERSECT SELECT 2.0").collect()]
    assert got == ["2"]
    assert eng.sql("SELECT 2.0 EXCEPT SELECT 2").collect() == []
    got = [str(r[0]) for r in eng.sql(
        "VALUES (1),(2.5) ORDER BY 1 DESC").collect()]
    assert got == ["2.5", "1"]
    # the display-image path itself still holds
    got = sorted(str(r[0]) for r in eng.sql(
        "SELECT 1.1 UNION SELECT 2").collect())
    assert got == ["1.1", "2"]


def test_failed_unique_index_leaves_no_phantom(spark, sf_dir):
    """ADVICE r10 #2: a CREATE UNIQUE INDEX refused over existing
    duplicates must not stay registered (PG's failed build leaves no
    catalog entry) — later INSERTs are unconstrained."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r11ph (a int)")
    try:
        eng.sql("INSERT INTO r11ph VALUES (1)")
        eng.sql("INSERT INTO r11ph VALUES (1)")
        with _pt.raises(Exception, match="duplicated"):
            eng.sql("CREATE UNIQUE INDEX r11ph_u ON r11ph (a)")
        assert "r11ph_u" not in getattr(eng, "_indexes", {})
        eng.sql("INSERT INTO r11ph VALUES (1)")  # no phantom constraint
        assert eng.sql(
            "SELECT count(*) AS c FROM r11ph").collect()[0].c == 3
    finally:
        eng.sql("DROP TABLE r11ph")


def test_unique_enforced_on_update_and_copy(spark, sf_dir, tmp_path):
    """ADVICE r10 #5: UPDATE and COPY enforce unique indexes like
    INSERT (nbtinsert.c runs on every new tuple version), and a
    refused UPDATE leaves the table unchanged."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r11uq (a int, b text)")
    try:
        eng.sql("INSERT INTO r11uq VALUES (1, 'x')")
        eng.sql("INSERT INTO r11uq VALUES (2, 'y')")
        eng.sql("CREATE UNIQUE INDEX r11uq_u ON r11uq (a)")
        with _pt.raises(Exception, match="duplicate key"):
            eng.sql("UPDATE r11uq SET a = 1 WHERE b = 'y'")
        assert sorted(r.a for r in eng.table("r11uq").collect()) \
            == [1, 2]
        # non-violating UPDATE still goes through
        eng.sql("UPDATE r11uq SET a = 3 WHERE b = 'y'")
        assert sorted(r.a for r in eng.table("r11uq").collect()) \
            == [1, 3]
        # UPDATE ... FROM path enforces too
        eng.sql("CREATE TABLE r11src (k int)")
        eng.sql("INSERT INTO r11src VALUES (3)")
        with _pt.raises(Exception, match="duplicate key"):
            eng.sql("UPDATE r11uq SET a = 1 FROM r11src"
                    " WHERE r11uq.a = r11src.k")
        assert sorted(r.a for r in eng.table("r11uq").collect()) \
            == [1, 3]
        # COPY FROM refuses a batch that collides with stored keys
        p = tmp_path / "r11uq.csv"
        p.write_text("1,dup\n")
        with _pt.raises(Exception, match="duplicate key"):
            eng.sql(f"COPY r11uq FROM '{p}' (DELIMITER ',')")
        assert sorted(r.a for r in eng.table("r11uq").collect()) \
            == [1, 3]
        eng.sql("DROP TABLE r11src")
    finally:
        eng.sql("DROP INDEX r11uq_u")
        eng.sql("DROP TABLE r11uq")


def test_time_canon_fraction_carry():
    """ADVICE r10 #3: AdjustTimeForTypmod carry — a fraction that
    rounds up to a whole second propagates into seconds/minutes/hours
    (date.c), capping at PG's 24:00:00 bound."""
    import pytest as _pt
    from gpdb_spark.functions.geo_runtime import time_canon

    assert time_canon(0, "12:00:00.6") == "12:00:01"
    assert time_canon(0, "12:00:59.6") == "12:01:00"
    assert time_canon(0, "12:59:59.6") == "13:00:00"
    assert time_canon(0, "23:59:59.6") == "24:00:00"
    assert time_canon(2, "11:59:59.996") == "12:00:00"
    assert time_canon(2, "11:59:59.994") == "11:59:59.99"
    assert time_canon(0, "12:00:00.4") == "12:00:00"
    with _pt.raises(ValueError, match="out of range"):
        time_canon(0, "24:00:00.6")


def test_pg_float8_out_specials():
    """ADVICE r10 #4: float8out prints Infinity/-Infinity/-0 (float.c
    float8out special-case table), not an OverflowError."""
    from gpdb_spark.functions.pg_numeric_agg import pg_float8_out

    assert pg_float8_out(float("inf")) == "Infinity"
    assert pg_float8_out(float("-inf")) == "-Infinity"
    assert pg_float8_out(float("nan")) == "NaN"
    assert pg_float8_out(-0.0) == "-0"
    assert pg_float8_out(2.5) == "2.5"
    assert pg_float8_out(3.0) == "3"


def test_datestyle_output_beyond_concat(spark, sf_dir):
    """r10 judge What's-wrong #1: PG routes `'x' || d` (textanycat,
    varlena.c) and `d::text` (CoerceViaIO) through the SAME output
    function as concat — EncodeDateTime/EncodeDateOnly,
    datetime.c:4117 — so non-ISO DateStyle governs ALL three
    spellings, and catalog-typed date/timestamp COLUMNS render styled
    too. Bool stays spelling-dependent on purpose: PG `'x' || true`
    is 'xtrue' (bool::text) but concat gives 't' (boolout)."""
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r11ds (d date, ts timestamp)")
    try:
        eng.sql("INSERT INTO r11ds VALUES"
                " ('2001-02-03', '2001-02-03 04:05:06')")
        eng.sql("SET datestyle = 'Postgres, MDY'")
        r = eng.sql("SELECT 'd=' || '2001-02-03'::date AS a,"
                    " '2001-02-03'::date::text AS b,"
                    " d::text AS c, 'x' || ts AS e,"
                    " 'x' || true AS f FROM r11ds").collect()[0]
        assert r.a == "d=02-03-2001"
        assert r.b == "02-03-2001"
        assert r.c == "02-03-2001"
        assert r.e == "xSat Feb 03 04:05:06 2001"
        assert r.f == "xtrue"
        eng.sql("SET datestyle = 'SQL, DMY'")
        assert eng.sql("SELECT d::text AS c FROM r11ds"
                       ).collect()[0].c == "03/02/2001"
        eng.sql("SET datestyle = 'German'")
        assert eng.sql("SELECT d::text AS c FROM r11ds"
                       ).collect()[0].c == "03.02.2001"
        eng.sql("RESET datestyle")
        r = eng.sql("SELECT d::text AS c, 'x' || ts AS e"
                    " FROM r11ds").collect()[0]
        assert r.c == "2001-02-03"
        assert r.e == "x2001-02-03 04:05:06"
    finally:
        eng.sql("RESET datestyle")
        eng.sql("DROP TABLE r11ds")


def test_unconstrained_numeric_text_column(spark, sf_dir):
    """r10 judge What's-wrong #2: an UNCONSTRAINED numeric column must
    keep per-value precision/scale (numeric.c numeric_in without
    typmod) — 1 and 1.000000000000000000001 stay DISTINCT values and
    display with their input scale (subselect.sql golden)."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r11num (num_col numeric)")
    try:
        eng.sql("INSERT INTO r11num VALUES (1),"
                " (1.000000000000000000001), (2), (3.50)")
        got = sorted(r.num_col for r in eng.table("r11num").collect())
        assert got == ["1", "1.000000000000000000001", "2", "3.50"]
        assert eng.sql("SELECT count(DISTINCT num_col) AS c"
                       " FROM r11num").collect()[0].c == 4
        # float comparison goes through value coercion
        rows = eng.sql(
            "SELECT num_col FROM r11num WHERE num_col IN"
            " (SELECT CAST(1.0 AS double))").collect()
        assert sorted(r.num_col for r in rows) \
            == ["1", "1.000000000000000000001"]
        with _pt.raises(Exception, match="numeric"):
            eng.sql("INSERT INTO r11num VALUES ('abc')")
    finally:
        eng.sql("DROP TABLE r11num")


def test_numeric_typmod_beyond_38_digits(spark, sf_dir):
    """numeric(p,s) beyond Spark's 38-digit DECIMAL cap stores the
    exact text image with apply_typmod input discipline, and the
    exact-decimal expression layer (numeric.c add/mul/div/sqrt over
    pg_numeric_bin) computes value-correct results (numeric.sql's
    numeric(210,10) surface)."""
    import pytest as _pt
    from gpdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("CREATE TABLE r11big (id int, val numeric(210,10))")
    try:
        big = "9" * 88
        eng.sql(f"INSERT INTO r11big VALUES (1, '{big}'),"
                " (2, '0.123456789049'), (3, '-83028485')")
        got = {r.id: r.val for r in eng.table("r11big").collect()}
        assert got[1] == big + ".0000000000"
        assert got[2] == "0.1234567890"  # apply_typmod rounds to s
        assert got[3] == "-83028485.0000000000"
        r = eng.sql("SELECT val * val AS sq FROM r11big"
                    " WHERE id = 1").collect()[0].sq
        assert r.startswith("9" * 87 + "8") and len(r) > 170
        r = eng.sql("SELECT round(val, 2) AS v FROM r11big"
                    " WHERE id = 2").collect()[0].v
        assert r == "0.12"
        # value-level comparison: 0.1234567890 = '0.123456789'
        n = eng.sql("SELECT count(*) AS c FROM r11big"
                    " WHERE val = '0.123456789'").collect()[0].c
        assert n == 1
        # typmod overflow refuses like numeric field overflow
        with _pt.raises(Exception, match="overflow"):
            eng.sql(f"INSERT INTO r11big VALUES (9, '1e205')")
        # exact aggregates
        r = eng.sql("SELECT avg(val) AS a FROM r11big"
                    " WHERE id IN (2, 3)").collect()[0].a
        assert r.startswith("-41514242.438")
    finally:
        eng.sql("DROP TABLE r11big")


def test_timestamp_typmod_text_column(spark, sf_dir):
    """timestamp(p) WITHOUT TIME ZONE columns store PG's output image
    (timestamp.c timestamp_in + AdjustTimestampForTypmod): ±infinity
    and BC instants survive, comparisons key on the total order,
    subtraction renders the interval, and 'now' is transaction-stable
    (the timestamp.sql surface)."""
    import pytest as _pt
    from gpdb_spark import dialect as d
    from gpdb_spark.engine import Engine

    d.set_date_style("postgres")
    d.set_date_order("mdy")
    d.set_interval_style("postgres_verbose")
    eng = Engine(spark, sf_dir)
    eng._default_datestyle = ("postgres", "mdy")
    eng.sql("CREATE TABLE r11ts (d1 timestamp(2) without time zone)")
    try:
        for v in ("Mon Feb 10 17:32:01.999999 1997 PST", "infinity",
                  "-infinity", "Feb 16 17:32:01 0097 BC",
                  "1997-01-02", "epoch"):
            eng.sql(f"INSERT INTO r11ts VALUES ('{v}')")
        vals = sorted(r.d1 for r in eng.table("r11ts").collect())
        assert "Mon Feb 10 17:32:02 1997" in vals  # typmod rounds up
        assert "Tue Feb 16 17:32:01 0097 BC" in vals
        assert "infinity" in vals and "-infinity" in vals
        n = eng.sql("SELECT count(*) AS c FROM r11ts WHERE d1 >"
                    " timestamp without time zone '1997-01-02'"
                    ).collect()[0].c
        assert n == 2  # Feb-10 and +infinity
        r = eng.sql("SELECT d1 - timestamp without time zone"
                    " '1997-01-02' AS diff FROM r11ts WHERE"
                    " d1 = timestamp without time zone '1997-01-02'"
                    ).collect()[0].diff
        assert r == "@ 0"
        r = eng.sql("SELECT to_char(d1, 'YYYY Mon DD') AS c FROM"
                    " r11ts WHERE d1 = timestamp without time zone"
                    " 'epoch'").collect()[0].c
        assert r == "1970 Jan 01"
        assert eng.sql("SELECT to_char(d1, 'YYYY') AS c FROM r11ts"
                       " WHERE d1 = 'infinity'").collect()[0].c == ""
        r = eng.sql("SELECT date_part('year', d1) AS y FROM r11ts"
                    " WHERE d1 = timestamp without time zone"
                    " 'Feb 16 17:32:01 0097 BC'").collect()[0].y
        assert r == -97.0
        with _pt.raises(Exception, match="no longer supported"):
            eng.sql("INSERT INTO r11ts VALUES ('invalid')")
        with _pt.raises(Exception, match="not recognized"):
            eng.sql("INSERT INTO r11ts VALUES"
                    " ('19970710 173201 America/Does_not_exist')")
        # txn-stable 'now'
        eng.sql("BEGIN")
        eng.sql("INSERT INTO r11ts VALUES ('now')")
        eng.sql("INSERT INTO r11ts VALUES ('now')")
        n = eng.sql("SELECT count(*) AS c FROM r11ts WHERE d1 ="
                    " timestamp(2) without time zone 'now'"
                    ).collect()[0].c
        assert n == 2
        eng.sql("COMMIT")
    finally:
        eng.sql("DROP TABLE r11ts")
        d.set_date_style("iso")
        d.set_interval_style("postgres")


def test_every_statement_form_sees_live_column_types(spark):
    """One table, one type context: SELECT, UPDATE, DELETE, PREPARE and
    WITH RECURSIVE all see ``a`` as int4 (int4div truncates, avg(int4)
    is numeric), and ALTER TABLE ADD/RENAME COLUMN are visible at once
    because the context is derived from the table's live schema."""
    eng = Engine(spark)
    eng.sql("CREATE TABLE tc_w (a int, b float8) DISTRIBUTED BY (a)")
    try:
        eng.sql("INSERT INTO tc_w VALUES (5, 0), (6, 0), (7, 0)")
        assert [r.d for r in eng.sql(
            "SELECT a/2 AS d FROM tc_w ORDER BY a").collect()] == [2, 3, 3]
        eng.sql("UPDATE tc_w SET b = a/2")
        assert sorted(r.b for r in eng.table("tc_w").collect()) == [
            2.0, 3.0, 3.0]
        assert eng.sql(
            "WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT n + 1"
            " FROM r WHERE n < 3) SELECT avg(a) AS m FROM tc_w"
        ).dtypes == [("m", "decimal(38,16)")]
        assert eng.sql("DELETE FROM tc_w WHERE a/2 = 3").first()[0] \
            == "DELETE 2"
        eng.sql("PREPARE tc_p AS SELECT a/2 AS d FROM tc_w")
        got = eng.sql("EXECUTE tc_p")
        assert dict(got.dtypes)["d"] in ("int", "bigint")
        assert [r.d for r in got.collect()] == [2]
        eng.sql("ALTER TABLE tc_w ADD COLUMN c int DEFAULT 7")
        assert eng.sql("SELECT c/2 AS d FROM tc_w").first().d == 3
        eng.sql("ALTER TABLE tc_w RENAME COLUMN a TO z")
        got = eng.sql("SELECT z/2 AS d, avg(z) AS m FROM tc_w GROUP BY z")
        assert dict(got.dtypes)["d"] in ("int", "bigint")
        assert dict(got.dtypes)["m"] == "decimal(38,16)"
        assert got.first().d == 2
    finally:
        eng.sql("DROP TABLE tc_w")


def test_typmod_records_follow_alter(spark):
    """ALTER TABLE RENAME TO / RENAME COLUMN / DROP COLUMN carry the
    table's declared-type records along: char(n) keeps bpchar
    semantics under its new names, and a dropped table leaves no
    record behind to misroute a same-named column of another type."""
    from gpdb_spark import dialect as _d

    eng = Engine(spark)
    eng.sql("CREATE TABLE tc_u (k int, w char(4)) DISTRIBUTED BY (k)")
    eng.sql("INSERT INTO tc_u VALUES (7, 'ab')")
    eng.sql("ALTER TABLE tc_u RENAME TO tc_u2")
    assert eng.sql("SELECT w::varchar || '|' AS s FROM tc_u2").first().s \
        == "ab|"
    eng.sql("ALTER TABLE tc_u2 RENAME COLUMN w TO w2")
    assert eng.sql("SELECT w2::varchar || '|' AS s FROM tc_u2").first().s \
        == "ab|"
    eng.sql("ALTER TABLE tc_u2 DROP COLUMN w2")
    eng.sql("ALTER TABLE tc_u2 ADD COLUMN w2 text DEFAULT 'ab  '")
    assert eng.sql("SELECT w2::varchar || '|' AS s FROM tc_u2").first().s \
        == "ab  |"
    eng.sql("DROP TABLE tc_u2")
    eng.sql("CREATE TABLE tc_v (k float8, w text) DISTRIBUTED BY (k)")
    try:
        eng.sql("INSERT INTO tc_v VALUES (7, 'ab  ')")
        assert eng.sql("SELECT k/2 AS d FROM tc_v").first().d == 3.5
        assert eng.sql("SELECT w::varchar || '|' AS s FROM tc_v").first().s \
            == "ab  |"
    finally:
        eng.sql("DROP TABLE tc_v")
    # geo routing follows a renamed table and is unbound by its DROP
    eng.sql("CREATE TABLE tc_g (tcg point) DISTRIBUTED BY (tcg)")
    eng.sql("ALTER TABLE tc_g RENAME TO tc_g2")
    assert _d._GEO_COLS.get("tcg") == "point"
    eng.sql("DROP TABLE tc_g2")
    assert "tcg" not in _d._GEO_COLS


def test_pg_contract_passes(spark):
    """PG results that only the left/right, select-list SRF, numeric
    window and error-contract passes produce (Spark alone answers
    differently or not at all)."""
    import pytest as _pt

    eng = Engine(spark)
    r = eng.sql("SELECT left('abcde', -2) AS l, right('abcde', -2) AS r,"
                " right('ab', 5) AS r2").first()
    assert (r.l, r.r, r.r2) == ("abc", "cde", "ab")
    eng.sql("CREATE TABLE tc_srf (a int) DISTRIBUTED BY (a)")
    eng.sql("CREATE TABLE tc_num (a int, v numeric) DISTRIBUTED BY (a)")
    try:
        eng.sql("INSERT INTO tc_srf VALUES (1), (2)")
        assert sorted(tuple(r) for r in eng.sql(
            "SELECT a, generate_series(1, 2) FROM tc_srf").collect()) == [
            (1, 1), (1, 2), (2, 1), (2, 2)]
        eng.sql("INSERT INTO tc_num VALUES (1, 12345678901234567890.123),"
                " (2, 1e-21)")
        assert [r.s for r in eng.sql(
            "SELECT sum(v) OVER (ORDER BY a) AS s FROM tc_num ORDER BY a"
        ).collect()] == ["12345678901234567890.123",
                         "12345678901234567890.123000000000000000001"]
    finally:
        eng.sql("DROP TABLE tc_srf")
        eng.sql("DROP TABLE tc_num")
    with _pt.raises(Exception, match="null character not permitted"):
        eng.sql("SELECT chr(0) AS c").collect()
    with _pt.raises(Exception, match="integer out of range"):
        eng.sql("SELECT (-2147483648)::int4 / (-1)::int4 AS d").collect()
