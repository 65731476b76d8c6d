"""GpTable: distribution policies, partitioned layout, DML rewrites,
external tables with SREH."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gpdb_spark.storage import GpTable


@pytest.fixture()
def nation_df(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/nation.parquet")


@pytest.fixture()
def orders_df(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def test_distributed_by_roundtrip(tmp_path, spark, orders_df):
    t = GpTable.create(
        orders_df,
        str(tmp_path / "orders_gp"),
        distributed_by=["o_custkey"],
        num_buckets=8,
    )
    back = t.read(spark)
    assert back.count() == orders_df.count()
    assert set(back.columns) == set(orders_df.columns)
    seg = t.read_with_segment_id(spark)
    assert seg.select("gp_segment_id").distinct().count() <= 8


def test_replicated_broadcasts(tmp_path, spark, nation_df, orders_df):
    t = GpTable.create(nation_df, str(tmp_path / "nation_rep"), replicated=True)
    joined = orders_df.join(
        t.read(spark), orders_df.o_custkey % 25 == F.col("n_nationkey")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, plan[:2000]


def test_partitioned_layout_prunes(tmp_path, spark, orders_df):
    df = orders_df.withColumn("o_year", F.year("o_orderdate"))
    t = GpTable.create(
        df,
        str(tmp_path / "orders_part"),
        distributed_by=["o_orderkey"],
        partition_by=["o_year"],
        num_buckets=4,
    )
    years = {
        d.split("=")[1]
        for d in os.listdir(t.path)
        if d.startswith("o_year=")
    }
    assert len(years) >= 3  # hive-style layout exists
    scan = t.read(spark).where(F.col("o_year") == 1997)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_year" in plan or "o_year#" in plan
    assert scan.count() == df.where(F.col("o_year") == 1997).count()


def test_dynamic_partition_pruning(tmp_path, spark, orders_df):
    """DynamicSeqScan + PartitionSelector (nodeDynamicSeqscan.c:228,
    planpartition.c): the partitions to scan are chosen at RUNTIME from
    the join's other side, not at plan time. Spark analog: DPP injects a
    dynamicpruning subquery into the fact scan's PartitionFilters when a
    filtered dim joins on the partition column."""
    df = orders_df.withColumn("o_year", F.year("o_orderdate"))
    t = GpTable.create(
        df,
        str(tmp_path / "orders_dpp"),
        distributed_by=["o_orderkey"],
        partition_by=["o_year"],
        num_buckets=4,
    )
    dim = spark.createDataFrame(
        [(1997, "keep"), (1998, "drop")], "d_year int, d_name string"
    )
    fact = t.read(spark)
    j = fact.join(dim, fact.o_year == dim.d_year).where(F.col("d_name") == "keep")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:3000]
    assert j.count() == df.where(F.col("o_year") == 1997).count()


def test_insert_into(tmp_path, spark, nation_df):
    t = GpTable.create(nation_df, str(tmp_path / "nation_ins"), distributed_by=["n_nationkey"], num_buckets=2)
    extra = nation_df.select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"),
        F.concat(F.lit("X_"), F.col("n_name")).alias("n_name"),
        "n_regionkey",
    )
    t.insert_into(extra)
    assert t.read(spark).count() == 2 * nation_df.count()


def test_delete_where(tmp_path, spark, nation_df):
    t = GpTable.create(nation_df, str(tmp_path / "nation_del"), distributed_by=["n_nationkey"], num_buckets=2)
    n_del = t.delete_where(spark, F.col("n_regionkey") == 0)
    want_deleted = nation_df.where(F.col("n_regionkey") == 0).count()
    assert n_del == want_deleted
    back = t.read(spark)
    assert back.where(F.col("n_regionkey") == 0).count() == 0
    assert back.count() == nation_df.count() - want_deleted


def test_update_set_including_distkey(tmp_path, spark, nation_df):
    t = GpTable.create(nation_df, str(tmp_path / "nation_upd"), distributed_by=["n_regionkey"], num_buckets=2)
    n_upd = t.update_set(
        spark,
        F.col("n_regionkey") == 4,
        {"n_regionkey": F.lit(99).cast("int"), "n_name": F.upper("n_name")},
    )
    want = nation_df.where(F.col("n_regionkey") == 4).count()
    assert n_upd == want
    back = t.read(spark)
    assert back.where(F.col("n_regionkey") == 4).count() == 0
    assert back.where(F.col("n_regionkey") == 99).count() == want


def test_row_triggers(tmp_path, spark, nation_df):
    """BEFORE row triggers (nodeRowTrigger.c:450): INSERT rewrites NEW /
    drops skipped rows; UPDATE's skip_when keeps OLD and its assignments
    override SET; DELETE's skip_when vetoes the deletion."""
    from gpdb_spark.storage import RowTrigger

    t = GpTable.create(
        nation_df, str(tmp_path / "nation_trig"),
        distributed_by=["n_nationkey"], num_buckets=2,
    )
    # BEFORE INSERT: uppercase the name, drop region-4 rows
    t.add_row_trigger(RowTrigger(
        event="insert",
        assignments={"n_name": F.upper(F.col("n_name"))},
        skip_when=F.col("n_regionkey") == 4,
    ))
    extra = nation_df.select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"),
        F.lower(F.col("n_name")).alias("n_name"),
        "n_regionkey",
    )
    n4 = nation_df.where(F.col("n_regionkey") == 4).count()
    t.insert_into(extra)
    back = t.read(spark)
    assert back.count() == 2 * nation_df.count() - n4
    inserted = back.where(F.col("n_nationkey") >= 100)
    assert inserted.where(F.col("n_regionkey") == 4).count() == 0
    assert inserted.where(F.col("n_name") != F.upper(F.col("n_name"))).count() == 0

    # BEFORE UPDATE: veto updates of region 0; stamp names elsewhere
    t.add_row_trigger(RowTrigger(
        event="update",
        assignments={"n_name": F.concat(F.lit("T_"), F.col("n_name"))},
        skip_when=F.col("n_regionkey") == 0,
    ))
    n_upd = t.update_set(
        spark,
        F.col("n_nationkey") < 100,
        {"n_regionkey": F.col("n_regionkey") + 10},
    )
    back = t.read(spark)
    orig_r0 = nation_df.where(F.col("n_regionkey") == 0).count()
    assert n_upd == nation_df.count() - orig_r0
    # vetoed rows unchanged (region stays 0): the originals (vetoed) plus
    # the inserted copies (outside the UPDATE's WHERE)
    assert back.where(F.col("n_regionkey") == 0).count() == 2 * orig_r0
    n_stamped = back.where(F.col("n_name").startswith("T_")).count()
    assert n_stamped == n_upd
    n_before = back.count()

    # BEFORE DELETE: protect the stamped rows
    t.add_row_trigger(RowTrigger(
        event="delete", skip_when=F.col("n_name").startswith("T_"),
    ))
    n_del = t.delete_where(spark, F.col("n_nationkey") < 100)
    back2 = t.read(spark)
    assert back2.where(F.col("n_name").startswith("T_")).count() == n_stamped
    assert n_del == n_before - back2.count()


def test_external_csv_sreh(tmp_path, spark):
    from gpdb_spark.operators.external import (
        RejectLimitExceeded,
        read_external_csv,
        write_external_csv,
    )

    p = tmp_path / "ext.csv"
    p.write_text(
        "1,alice,10.5\n"
        "2,bob,not_a_number\n"
        "3,carol,7.25\n"
        "bad line entirely,,,,,\n"
        "4,dave,1.0\n"
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    res = read_external_csv(spark, str(p), schema, reject_limit=3)
    assert res.n_rejected == 2
    assert sorted(r.id for r in res.good.collect()) == [1, 3, 4]
    assert res.errors.count() == 2

    with pytest.raises(RejectLimitExceeded):
        read_external_csv(spark, str(p), schema, reject_limit=1)

    out = tmp_path / "unload"
    write_external_csv(res.good, str(out))
    back = spark.read.option("header", "true").schema(schema).csv(str(out))
    assert back.count() == 3


def test_external_program_sreh(spark):
    """EXECUTE 'command' external source (url_execute.c analog): each
    segment's command runs executor-side with GP_SEGMENT_ID, emits its
    shard; bad rows divert to the error log (SREH) under the reject
    limit and raise above it."""
    from gpdb_spark.operators.external import (
        RejectLimitExceeded,
        read_external_program,
    )

    schema = StructType(
        [
            StructField("seg", LongType()),
            StructField("n", LongType()),
            StructField("label", StringType()),
        ]
    )
    # 3 good rows per segment plus one corrupt row from segment 0
    cmd = (
        'for i in 1 2 3; do echo "$GP_SEGMENT_ID,$i,seg$GP_SEGMENT_ID"; '
        'done; if [ "$GP_SEGMENT_ID" = "0" ]; then echo "oops,not_a_number"; fi'
    )
    res = read_external_program(
        spark, cmd, schema, n_segments=4, reject_limit=2
    )
    rows = res.good.collect()
    assert len(rows) == 12
    assert {r.seg for r in rows} == {0, 1, 2, 3}  # ran per segment
    assert res.n_rejected == 1
    assert res.errors.count() == 1

    with pytest.raises(RejectLimitExceeded):
        read_external_program(
            spark, cmd, schema, n_segments=4, reject_limit=0
        )


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """Two tables bucketed on the same key join WITHOUT any shuffle — the
    reference's segment-local join on matching distribution keys
    (cdbpath.c no-motion path). The plan must contain no Exchange."""
    from gpdb_spark.storage import GpTable

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    GpTable.save_bucketed(o, "orders_bkt", ["o_custkey"], 8)
    GpTable.save_bucketed(c, "customer_bkt", ["c_custkey"], 8)
    try:
        j = spark.table("orders_bkt").join(
            spark.table("customer_bkt"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        # disable broadcast so the co-location is what's being tested
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "Exchange" not in plan, plan[:2000]
        assert j.count() == o.count()  # every order matches one customer
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS customer_bkt")


def test_salted_join_matches_plain(spark, sf_dir):
    """Salted join result must equal the plain join (order-insensitive),
    with the dim side replicated salt times."""
    from gpdb_spark.operators.skew import salted_join

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    # synthetic extreme skew: 90% of rows to one key
    o = o.withColumn(
        "k", F.when(F.col("o_orderkey") % 10 != 0, 1).otherwise(F.col("o_custkey"))
    )
    d = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dimval")
    )
    plain = {
        (r.o_orderkey, r.dimval)
        for r in o.join(d, "k").select("o_orderkey", "dimval").collect()
    }
    salted = {
        (r.o_orderkey, r.dimval)
        for r in salted_join(o, d, "k", salt=8)
        .select("o_orderkey", "dimval")
        .collect()
    }
    assert salted == plain and len(plain) > 0


def test_assert_op_constraint(spark, sf_dir):
    """AssertOp (nodeAssertOp.c:98): passing data flows through untouched;
    a violating row fails the query at execution time."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from gpdb_spark.operators.constraints import assert_op, not_null

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ok = assert_op(o, F.col("o_totalprice") > 0, "o_totalprice > 0")
    assert len(ok.collect()) == o.count()
    assert ok.columns == o.columns
    with pytest.raises(SparkRuntimeException, match="AssertOp violation"):
        assert_op(o, F.col("o_totalprice") < 0, "o_totalprice < 0").collect()
    # column pruning keeps the guard alive on any consumed column
    with pytest.raises(SparkRuntimeException, match="AssertOp violation"):
        assert_op(o, F.col("o_totalprice") < 0, "neg").select("o_custkey").distinct().collect()
    assert len(not_null(o, "o_orderkey", "o_custkey").collect()) == o.count()


def test_interval_overlap_join_matches_naive(spark, sf_dir):
    """Binned interval-overlap join must equal the quadratic formulation."""
    from gpdb_spark.operators.range_join import interval_overlap_join

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(300)
    iv = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("lo"),
        (F.col("o_totalprice") + 5000.0).alias("hi"),
    )
    got = {
        (r.o_orderkey, r.o_orderkey_r)
        for r in interval_overlap_join(
            iv, iv, "lo", "hi", "lo", "hi", bin_width=3000.0
        ).collect()
    }
    a, b = iv.alias("a"), iv.alias("b")
    naive = {
        (r[0], r[1])
        for r in a.crossJoin(b)
        .where(
            (F.col("a.lo") < F.col("b.hi")) & (F.col("b.lo") < F.col("a.hi"))
        )
        .select(F.col("a.o_orderkey"), F.col("b.o_orderkey"))
        .collect()
    }
    assert got == naive and len(naive) > 300


def test_sort_by_clusters_row_groups(tmp_path, spark, orders_df):
    """sort_by clustered storage: parquet row-group min/max stats on the
    sort key must be (near-)disjoint within each file, so selective scans
    skip row groups — the IndexScan/CLUSTER analog on columnar files."""
    import pyarrow.parquet as pq

    t = GpTable.create(
        orders_df,
        str(tmp_path / "orders_sorted"),
        distributed_by=["o_custkey"],
        num_buckets=4,
        sort_by=["o_totalprice"],
    )
    files = [
        os.path.join(t.path, f)
        for f in os.listdir(t.path)
        if f.endswith(".parquet")
    ]
    assert files
    for fp in files:
        meta = pq.ParquetFile(fp).metadata
        idx = next(
            i
            for i in range(meta.num_columns)
            if meta.row_group(0).column(i).path_in_schema == "o_totalprice"
        )
        prev_max = None
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            assert st.min <= st.max
            if prev_max is not None:
                assert st.min >= prev_max  # sorted => disjoint ranges
            prev_max = st.max
    # correctness unchanged
    back = t.read(spark)
    assert back.count() == orders_df.count()


def test_delete_using_and_update_from(tmp_path, spark, nation_df):
    """DELETE USING / UPDATE FROM (gram.y using_clause / UPDATE
    from_clause): join-based DML planned as semi/anti + join-projection,
    exactly the reference's join-ModifyTable plan."""
    t = GpTable.create(
        nation_df, str(tmp_path / "nation_ju"),
        distributed_by=["n_nationkey"], num_buckets=2,
    )
    doomed_keys = spark.createDataFrame(
        [(1,), (3,), (999,)], "k long"
    )
    n_del = t.delete_using(
        spark, doomed_keys, F.col("n_nationkey") == F.col("k")
    )
    assert n_del == 2  # 999 has no match
    back = t.read(spark)
    assert back.where(F.col("n_nationkey").isin(1, 3)).count() == 0

    # extra WHERE narrows the doomed set
    more = spark.createDataFrame([(5,), (6,)], "k long")
    n_del2 = t.delete_using(
        spark, more, F.col("n_nationkey") == F.col("k"),
        extra_where=F.col("n_regionkey") == 0,
    )
    only_r0 = nation_df.where(
        F.col("n_nationkey").isin(5, 6) & (F.col("n_regionkey") == 0)
    ).count()
    assert n_del2 == only_r0

    # UPDATE ... FROM: set region from a source mapping
    mapping = spark.createDataFrame(
        [(0, 100), (2, 102)], "n_nationkey long, new_region long"
    )
    n_upd = t.update_from(
        spark, mapping, ["n_nationkey"],
        {"n_regionkey": F.col("new_region")},
    )
    assert n_upd == 2
    back = t.read(spark)
    assert back.where(F.col("n_nationkey") == 0).collect()[0].n_regionkey == 100
    assert back.where(F.col("n_nationkey") == 2).collect()[0].n_regionkey == 102


def test_upsert_on_conflict(tmp_path, spark, nation_df):
    """INSERT ON CONFLICT DO UPDATE (speculative insert): matched keys
    take incoming values, new keys append, untouched rows pass through."""
    t = GpTable.create(
        nation_df, str(tmp_path / "nation_ups"),
        distributed_by=["n_nationkey"], num_buckets=2,
    )
    incoming = spark.createDataFrame(
        [(0, "ZERO_NATION", 9), (1, "ONE_NATION", 9), (500, "NEW_NATION", 9)],
        "n_nationkey long, n_name string, n_regionkey long",
    )
    n_before = nation_df.count()
    n_upd, n_ins = t.upsert(spark, incoming, ["n_nationkey"])
    assert (n_upd, n_ins) == (2, 1)
    back = t.read(spark)
    assert back.count() == n_before + 1
    assert back.where(F.col("n_nationkey") == 0).collect()[0].n_name == "ZERO_NATION"
    assert back.where(F.col("n_nationkey") == 500).collect()[0].n_name == "NEW_NATION"
    # untouched row unchanged
    orig_2 = nation_df.where(F.col("n_nationkey") == 2).collect()[0].n_name
    assert back.where(F.col("n_nationkey") == 2).collect()[0].n_name == orig_2

    # partial update_cols: only n_regionkey refreshed, name preserved
    inc2 = spark.createDataFrame(
        [(2, "SHOULD_NOT_APPLY", 42)],
        "n_nationkey long, n_name string, n_regionkey long",
    )
    n_upd2, n_ins2 = t.upsert(spark, inc2, ["n_nationkey"], ["n_regionkey"])
    assert (n_upd2, n_ins2) == (1, 0)
    row = t.read(spark).where(F.col("n_nationkey") == 2).collect()[0]
    assert row.n_regionkey == 42 and row.n_name == orig_2


def test_alter_distribution_and_truncate(tmp_path, spark, nation_df):
    """ALTER TABLE SET DISTRIBUTED BY / REPLICATED redistributes every
    row under the new policy; TRUNCATE empties but keeps schema."""
    t = GpTable.create(
        nation_df, str(tmp_path / "nation_alter"),
        distributed_by=["n_nationkey"], num_buckets=4,
    )
    t.alter_distribution(spark, replicated=True)
    assert t.policy.is_replicated
    joined = spark.read.parquet(f"{t.path}").limit(1)
    # replicated read path broadcast-hints
    plan = (
        nation_df.join(t.read(spark).selectExpr("n_nationkey AS k"),
                       F.col("n_nationkey") == F.col("k"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Broadcast" in plan
    assert t.read(spark).count() == nation_df.count()

    t.alter_distribution(spark, distributed_by=["n_regionkey"])
    assert t.policy.distkey == ("n_regionkey",)
    assert t.read(spark).count() == nation_df.count()

    t.truncate(spark)
    back = t.read(spark)
    assert back.count() == 0
    assert set(back.columns) == set(nation_df.columns)


def test_dml_returning(spark, tmp_path):
    """DELETE/UPDATE ... RETURNING: OLD images for DELETE, NEW for
    UPDATE, pinned across the copy-on-write rewrite."""
    from pyspark.sql import functions as F

    from gpdb_spark.storage import GpTable

    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 10).alias("v")
    )
    tbl = GpTable.create(df, str(tmp_path / "t_ret"), distributed_by=("id",))
    deleted = tbl.delete_where(spark, F.col("id") >= 8, returning=True)
    assert sorted(r.id for r in deleted.collect()) == [8, 9]
    assert sorted(r.v for r in deleted.collect()) == [80, 90]  # OLD image
    assert tbl.read(spark).count() == 8

    updated = tbl.update_set(
        spark,
        F.col("id") < 3,
        {"v": F.col("v") + 1},
        returning=True,
    )
    got = {r.id: r.v for r in updated.collect()}
    assert got == {0: 1, 1: 11, 2: 21}  # NEW image
    full = {r.id: r.v for r in tbl.read(spark).collect()}
    assert full[0] == 1 and full[5] == 50


def test_external_fixedwidth(spark, tmp_path):
    """formatter_fixedwidth contrib: fixed byte widths, blank padding,
    SREH capture of rows with bad casts or wrong record length."""
    from gpdb_spark.operators.external import read_external_fixedwidth

    lines = [
        "alpha     1   3.5",
        "beta      22 0.25",
        "gamma     xx  1.0",  # bad int -> reject
        "short",              # wrong length -> reject
    ]
    p = tmp_path / "fixed.txt"
    p.write_text("\n".join(lines) + "\n")
    res = read_external_fixedwidth(
        spark,
        str(p),
        [("name", 10, "string"), ("n", 3, "int"), ("x", 4, "double")],
        reject_limit=5,
    )
    rows = {r["name"]: (r["n"], r["x"]) for r in res.good.collect()}
    assert rows == {"alpha": (1, 3.5), "beta": (22, 0.25)}
    assert res.n_rejected == 2
    bad = {r["raw_line"] for r in res.errors.collect()}
    assert bad == {"gamma     xx  1.0", "short"}


def test_cluster_by_orders_rowgroups(spark, tmp_path):
    """CLUSTER (commands/cluster.c): after cluster_by, each written file
    is sorted on the cluster key, so parquet row-group min/max stats are
    tight and selective scans prune. Distribution placement survives."""
    import pyarrow.parquet as pq
    from gpdb_spark.storage import GpTable

    src = spark.range(0, 10000).selectExpr(
        "id", "CAST(id % 997 AS INT) AS k", "id * 2 AS v"
    )
    t = GpTable.create(
        src, str(tmp_path / "clustered"), distributed_by=("id",)
    )
    t.cluster_by(spark, ("k",))
    # every parquet file individually sorted on k
    import glob as g

    files = g.glob(f"{t.path}/*.parquet")
    assert files
    for f in files:
        ks = pq.read_table(f, columns=["k"])["k"].to_pylist()
        assert ks == sorted(ks)
    # nothing lost, policy intact
    assert t.read(spark).count() == 10000
    assert t.policy.distkey == ("id",)


def test_vacuum_compacts_small_files(spark, tmp_path):
    """VACUUM (AO compaction analog): many tiny insert-generated files
    rewrite into few full ones; data + policy survive."""
    from gpdb_spark.storage import GpTable

    src = spark.range(0, 1000).selectExpr("id", "id * 2 AS v")
    t = GpTable.create(src, str(tmp_path / "vac"), distributed_by=("id",))
    # force the placed-append scale path: inside the heap-order window
    # (round 10) small inserts rewrite to ONE ordered file and vacuum
    # would have nothing to compact
    t.HEAP_ORDER_BYTES = -1
    for i in range(3):  # micro-batch appends -> file fragmentation
        t.insert_into(
            spark.range(1000 + i * 100, 1100 + i * 100).selectExpr(
                "id", "id * 2 AS v"
            )
        )
    before, after = t.vacuum(spark)
    assert before > after
    assert after >= 1
    df = t.read(spark)
    assert df.count() == 1300
    assert df.agg({"v": "sum"}).collect()[0][0] == sum(
        2 * x for x in list(range(1000)) + list(range(1000, 1300))
    )


def test_partition_maintenance(spark, tmp_path):
    """ALTER TABLE DROP/EXCHANGE PARTITION (cdbpartition.c): partition
    directory swap/delete without rewriting sibling partitions."""
    from gpdb_spark.storage import GpTable

    src = spark.createDataFrame(
        [(1, "2024-01", 10.0), (2, "2024-01", 11.0),
         (3, "2024-02", 20.0), (4, "2024-03", 30.0)],
        ["id", "month", "v"],
    )
    t = GpTable.create(
        src, str(tmp_path / "parts"), distributed_by=("id",),
        partition_by=("month",),
    )
    # exchange: replace 2024-02 wholesale with staged data
    staged = spark.createDataFrame(
        [(30, "2024-02", 99.0), (31, "2024-02", 98.0)], ["id", "month", "v"]
    )
    assert t.exchange_partition(spark, "2024-02", staged) == 2
    # add a brand-new partition the same way
    t.exchange_partition(
        spark,
        "2024-04",
        spark.createDataFrame([(40, "2024-04", 44.0)], ["id", "month", "v"]),
    )
    assert t.drop_partition(spark, "2024-03") == 1
    got = {
        (r["id"], r["month"]) for r in t.read(spark).collect()
    }
    assert got == {(1, "2024-01"), (2, "2024-01"), (30, "2024-02"),
                   (31, "2024-02"), (40, "2024-04")}


def test_split_partition(spark, tmp_path):
    """ALTER TABLE SPLIT PARTITION (ATPExecPartSplit, tablecmds.c;
    cdbpartition.c:6816 boundary validation): one partition's rows are
    rerouted across a boundary into two new partitions; siblings are
    byte-untouched and the distribution policy is preserved."""
    import glob
    import os

    from gpdb_spark.storage import GpTable

    src = spark.createDataFrame(
        [(1, "2024-H1", 1.0), (2, "2024-H1", 2.0), (3, "2024-H1", None),
         (4, "2024-H1", 9.0), (5, "2024-H2", 5.0)],
        "id int, half string, v double",
    )
    t = GpTable.create(
        src, str(tmp_path / "sp"), distributed_by=("id",),
        partition_by=("half",),
    )
    sibling_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(str(tmp_path / "sp" / "half=2024-H2" / "*.parquet"))
    }
    n_lo, n_hi = t.split_partition(
        spark, "2024-H1", split_col="v", at=3.0, into=("2024-Q1", "2024-Q2")
    )
    assert (n_lo, n_hi) == (2, 2)  # NULL v routes to hi (PG default)
    assert not os.path.isdir(tmp_path / "sp" / "half=2024-H1")
    got = {(r["id"], r["half"]) for r in t.read(spark).collect()}
    assert got == {(1, "2024-Q1"), (2, "2024-Q1"), (3, "2024-Q2"),
                   (4, "2024-Q2"), (5, "2024-H2")}
    # sibling partition untouched: same files, same mtimes
    assert {
        p: os.path.getmtime(p)
        for p in glob.glob(str(tmp_path / "sp" / "half=2024-H2" / "*.parquet"))
    } == sibling_files
    # splitting into an existing partition name refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exists"):
        t.split_partition(
            spark, "2024-H2", split_col="v", at=1.0,
            into=("2024-Q1", "2024-Q4"),
        )


def test_external_uri_scheme_passthrough(tmp_path, spark):
    """Cloud external protocols (gpcontrib/gpcloud s3:// analog): object
    stores are URI schemes on the same readers — exercised with the
    file:// scheme (the in-container stand-in; s3a://, gs://, abfss://
    take the identical spark.read path, differing only in the Hadoop FS
    implementation behind the scheme)."""
    from gpdb_spark.operators.external import read_external_csv

    p = tmp_path / "cloud.csv"
    p.write_text("1,alpha,1.5\n2,beta,2.5\n")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    res = read_external_csv(spark, f"file://{p}", schema)
    assert res.n_rejected == 0
    assert {r.name for r in res.good.collect()} == {"alpha", "beta"}


def test_update_from_collision_raises(tmp_path, spark, nation_df):
    """Review regression: a source payload column sharing a target name
    silently resolved assignments to the OLD value — now raises."""
    import pytest as _pytest

    t = GpTable.create(
        nation_df, str(tmp_path / "nation_clash"),
        distributed_by=["n_nationkey"], num_buckets=2,
    )
    src = spark.createDataFrame(
        [(0, 7)], "n_nationkey long, n_regionkey long"
    )
    with _pytest.raises(ValueError, match="collide"):
        t.update_from(spark, src, ["n_nationkey"],
                      {"n_regionkey": F.col("n_regionkey")})


def test_truncate_partitioned_roundtrip(tmp_path, spark):
    """Review regression: TRUNCATE on a partitioned table left no
    schema-bearing files (UNABLE_TO_INFER_SCHEMA on every later read)."""
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, region string, v long"
    )
    t = GpTable.create(df, str(tmp_path / "trunc_part"),
                       distributed_by=["id"], partition_by=["region"],
                       num_buckets=2)
    t.truncate(spark)
    assert t.read(spark).count() == 0
    t.insert_into(spark.createDataFrame(
        [(3, "c", 30)], "id long, region string, v long"))
    assert t.read(spark).count() == 1


def test_rewrite_preserves_cluster_order(tmp_path, spark, nation_df):
    """Review regression: UPDATE/DELETE rewrites must keep the
    CLUSTER BY sort order (row-group pruning depends on it)."""
    t = GpTable.create(
        nation_df, str(tmp_path / "nation_clu"),
        distributed_by=["n_regionkey"], num_buckets=2,
        sort_by=["n_nationkey"],
    )
    t.delete_where(spark, F.col("n_nationkey") == 3)
    import glob
    import pyarrow.parquet as pq

    for f in glob.glob(f"{t.path}/*.parquet"):
        ids = pq.read_table(f, columns=["n_nationkey"])["n_nationkey"].to_pylist()
        assert ids == sorted(ids), f"unsorted after rewrite: {f}"


def _assert_scan_parity(spark, t, label):
    """The table's known-schema scan agrees with a fresh inferring scan
    of its files: same schema, same rows."""
    got = t.read(spark)
    fresh = spark.read.parquet(t.path)
    assert got.schema == fresh.schema, label
    assert t.schema(spark) == fresh.schema, label
    assert sorted(map(repr, got.collect())) == sorted(
        map(repr, fresh.collect())), label


def test_known_schema_parity_after_every_write(tmp_path, spark, monkeypatch):
    """After every file-writing path the schema a GpTable scans with is
    exactly what footer inference returns for its files, and the rows
    agree: a stale known schema is never served."""
    from gpdb_spark.engine import Engine

    # non-nullable id (spark.range) and array elements: the known schema
    # must come back nullable, as the file source reads it
    src = spark.range(1, 7).selectExpr(
        "id", "cast(id % 3 as int) AS k", "concat('n', id) AS name",
        "cast(id * 1.5 as decimal(10,2)) AS amt",
        "date_add(date'2024-01-01', cast(id as int)) AS d",
        "array(id, id + 1) AS arr")
    t = GpTable.create(src, str(tmp_path / "par"), distributed_by=("id",),
                       num_buckets=2)
    _assert_scan_parity(spark, t, "create")
    batch = src.where("id <= 2").selectExpr(
        "id + 6 AS id", "k", "name", "amt", "d", "arr")
    assert t.insert_into(batch) == 2
    _assert_scan_parity(spark, t, "insert (heap window)")
    with monkeypatch.context() as m:
        m.setattr(GpTable, "HEAP_ORDER_BYTES", 0)
        assert t.insert_into(batch.selectExpr(
            "id + 2 AS id", "k", "name", "amt", "d", "arr")) == 2
        _assert_scan_parity(spark, t, "insert (placed append)")
    assert t.update_set(spark, F.col("id") <= 3,
                        {"name": F.lit("u"), "amt": F.col("amt") + 1}) == 3
    _assert_scan_parity(spark, t, "update")
    assert t.delete_where(spark, F.col("id") == 2) == 1
    _assert_scan_parity(spark, t, "delete")
    incoming = src.where("id IN (1, 3)").selectExpr(
        "id", "k", "'up' AS name", "amt", "d", "arr").unionByName(
        src.where("id = 1").selectExpr(
            "id + 100 AS id", "k", "name", "amt", "d", "arr"))
    assert t.upsert(spark, incoming, ["id"]) == (2, 1)
    _assert_scan_parity(spark, t, "upsert")
    doomed = spark.createDataFrame([(3,), (999,)], "key long")
    assert t.delete_using(spark, doomed, F.col("id") == F.col("key")) == 1
    _assert_scan_parity(spark, t, "delete_using")
    mapping = spark.createDataFrame([(1, 7)], "id long, new_k int")
    assert t.update_from(spark, mapping, ["id"], {"k": F.col("new_k")}) == 1
    _assert_scan_parity(spark, t, "update_from")
    t.alter_distribution(spark, replicated=True)
    _assert_scan_parity(spark, t, "alter_distribution")
    t.cluster_by(spark, ["k"])
    _assert_scan_parity(spark, t, "cluster_by")
    t.vacuum(spark)
    _assert_scan_parity(spark, t, "vacuum")
    t.truncate(spark)
    _assert_scan_parity(spark, t, "truncate")
    assert t.insert_into(batch) == 2
    _assert_scan_parity(spark, t, "insert after truncate")

    # partitioned: partition column types are inferred from directory
    # names, so the value set decides them ("1","2" read as int; adding
    # "x" turns the column into string) — every partition change must
    # leave the table to re-infer
    psrc = spark.createDataFrame(
        [(1, "1", 1.0), (2, "1", None), (3, "2", 3.0), (4, "2", 9.0)],
        "id long, grp string, v double")
    p = GpTable.create(psrc, str(tmp_path / "ppar"), distributed_by=("id",),
                       partition_by=("grp",), num_buckets=2)
    _assert_scan_parity(spark, p, "partitioned create")
    assert p.insert_into(spark.createDataFrame(
        [(5, "x", 5.0)], "id long, grp string, v double")) == 1
    _assert_scan_parity(spark, p, "partitioned insert of a new value")
    assert p.delete_where(spark, F.col("id") == 5) == 1
    _assert_scan_parity(spark, p, "partitioned delete")
    p.exchange_partition(spark, "y", spark.createDataFrame(
        [(6, "y", 6.0)], "id long, grp string, v double"))
    _assert_scan_parity(spark, p, "exchange_partition")
    assert p.drop_partition(spark, "y") == 1
    _assert_scan_parity(spark, p, "drop_partition")
    assert p.split_partition(spark, "2", split_col="v", at=5.0,
                             into=("3", "z")) == (1, 1)
    _assert_scan_parity(spark, p, "split_partition")
    before = p.schema(spark)
    p.truncate(spark)
    # no data files remain: the read falls back to the last schema
    empty = p.read(spark)
    assert empty.schema == before and empty.count() == 0
    assert p.insert_into(spark.createDataFrame(
        [(7, "4", 7.0)], "id long, grp string, v double")) == 1
    _assert_scan_parity(spark, p, "insert into truncated partitioned")

    # engine ALTER TABLE ... ADD / RENAME / DROP COLUMN rewrite the
    # column set through the same paths
    e = Engine(spark)
    g = e.create_table("par_alter", src, str(tmp_path / "par_alter"),
                       distributed_by=("id",))
    for stmt in ("ALTER TABLE par_alter ADD COLUMN extra int DEFAULT 5",
                 "ALTER TABLE par_alter RENAME COLUMN name TO label",
                 "ALTER TABLE par_alter DROP COLUMN amt"):
        e.sql(stmt)
        _assert_scan_parity(spark, g, stmt)
    assert e.sql("SELECT label, extra FROM par_alter WHERE id = 1").first() == (
        "n1", 5)
