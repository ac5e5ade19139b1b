"""Plan-shape proofs for the scale toolkit (bucketed + salted joins)."""

from __future__ import annotations

import contextlib

import pyspark.sql.functions as F

from multi_model_vectorsearch_spark.operators.scale import (
    bucketed_join,
    salted_join,
    write_bucketed,
)
from multi_model_vectorsearch_spark.plans.explain import explain_formatted


def _formatted_plan(df) -> str:
    return explain_formatted(df)


def test_bucketed_join_has_no_exchange(spark, tables, tmp_path):
    orders = tables["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    li = tables["lineitem"].select("l_orderkey", "l_quantity").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "b_orders", "o_orderkey",
                   path=str(tmp_path / "b_orders"))
    write_bucketed(li, "b_lineitem", "o_orderkey",
                   path=str(tmp_path / "b_lineitem"))
    # disable auto-broadcast: at test SF everything is broadcastable, which
    # hides the shuffle bucketing eliminates at 100 TB (where neither side
    # broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = _formatted_plan(joined)
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        expected = orders.join(li, "o_orderkey").count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_asof_window_matches_range_join(tables):
    """The merged-stream window as-of equals the quadratic range join."""
    from multi_model_vectorsearch_spark.operators.relational import (
        asof_join_range,
        dq09_asof_join,
    )

    fast = sorted(map(tuple, dq09_asof_join(tables).collect()))
    slow = sorted(map(tuple, asof_join_range(tables).collect()))
    assert fast == slow


def test_salted_join_matches_plain_join(tables):
    orders = tables["orders"].select("o_custkey", "o_orderkey")
    cust = tables["customer"].select("o_custkey", "c_name").withColumnRenamed(
        "c_custkey", "o_custkey"
    ) if "c_custkey" not in tables["customer"].columns else tables[
        "customer"
    ].select(F.col("c_custkey").alias("o_custkey"), "c_name")
    plain = orders.join(cust, "o_custkey")
    salted = salted_join(orders, cust, "o_custkey", n_salts=4)
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    assert salted.columns == plain.columns


def test_partitioned_write_prunes_partitions(spark, tables, tmp_path):
    """A filter on the partition column must reach PartitionFilters."""
    from multi_model_vectorsearch_spark.operators.scale import (
        read_partitioned,
        write_partitioned,
    )

    p = str(tmp_path / "orders_by_status")
    write_partitioned(tables["orders"], p, "o_orderstatus")
    df = read_partitioned(spark, p).filter(F.col("o_orderstatus") == "O")
    plan = _formatted_plan(df)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    want = tables["orders"].filter(F.col("o_orderstatus") == "O").count()
    assert df.count() == want


def test_dynamic_partition_pruning_on_join(spark, tables, tmp_path):
    """Joining a partitioned fact with a filtered dim plans a DPP subquery."""
    from multi_model_vectorsearch_spark.operators.scale import (
        read_partitioned,
        write_partitioned,
    )

    p = str(tmp_path / "li_by_flag")
    write_partitioned(
        tables["lineitem"].select("l_orderkey", "l_quantity", "l_returnflag"),
        p, "l_returnflag",
    )
    fact = read_partitioned(spark, p)
    dim = (
        tables["lineitem"].select("l_returnflag").distinct()
        .filter(F.col("l_returnflag") == "R")
        .withColumnRenamed("l_returnflag", "flag")
    )
    joined = fact.join(dim, fact.l_returnflag == dim.flag)
    plan = _formatted_plan(joined).lower()
    assert "dynamicpruning" in plan or "partitionfilters" in plan, plan
    want = tables["lineitem"].filter(F.col("l_returnflag") == "R").count()
    assert joined.count() == want


def test_merge_upsert_semantics(spark, tmp_path):
    from multi_model_vectorsearch_spark.operators.scale import merge_upsert

    p = str(tmp_path / "state")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    assert merge_upsert(spark, p, base, "k") == 2
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    assert merge_upsert(spark, p, upd, "k") == 3
    rows = {r.k: r.v for r in spark.read.parquet(p).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}
    # idempotent re-apply
    assert merge_upsert(spark, p, upd, "k") == 3
    rows2 = {r.k: r.v for r in spark.read.parquet(p).collect()}
    assert rows2 == rows


def test_scalable_ntile_matches_window_form(tables):
    """The two-pass range-partition ntile must equal the single-window dq18
    exactly, and its plan must contain no single-partition exchange."""
    from multi_model_vectorsearch_spark.operators import relational as R
    from multi_model_vectorsearch_spark.operators import scale as S
    from multi_model_vectorsearch_spark.plans import explain_formatted

    a = sorted(map(tuple, R.dq18_ntile(tables).collect()))
    b = sorted(map(tuple, S.dq171_global_ntile_scalable(tables).collect()))
    assert a == b and len(a) > 0
    plan = explain_formatted(S.dq171_global_ntile_scalable(tables))
    assert "SinglePartition" not in plan


def test_ivf_index_persists_bucketed_with_bucket_pruning(spark, tables,
                                                         tmp_path):
    """Build-once / query-many ANN: the IVF assignment persists bucketed by
    cluster id, and a probe-cluster equality query prunes to the matching
    buckets at scan time (SelectedBucketsCount in the plan) — the 100 TB
    serving pattern where a query touches 1/n_clusters of the index."""
    from multi_model_vectorsearch_spark.operators.ann import assign_clusters
    from multi_model_vectorsearch_spark.operators.scale import write_bucketed

    assigned = assign_clusters(tables, n_centroids=8).select(
        "vec_id", "cid")
    write_bucketed(assigned, "ivf_index", "cid", n_buckets=8,
                   path=str(tmp_path / "ivf_index"))
    # DisableUnnecessaryBucketedScan only weighs output distribution, not
    # bucket pruning — pin the bucketed scan on so the equality filter
    # prunes at file-listing time
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        probe = spark.table("ivf_index").filter("cid = 3")
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan, plan
        sel = plan.split("SelectedBucketsCount:")[1].split("\n")[0]
        assert "1 out of 8" in sel, sel
        # the pruned scan returns exactly the cluster's members
        want = sorted(
            r.vec_id for r in assigned.filter("cid = 3").collect())
        got = sorted(r.vec_id for r in probe.collect())
        assert got == want
    finally:
        spark.conf.set(key, prev)


def test_global_orders_scalable_matches_window_reference(spark, tables):
    """r15: the sampled-boundary multi-order rank pass (desc keys,
    cum_sums, cum_mins) is row-identical to the partitionless-window
    reference it replaced, on a table small enough to brute-force."""
    from pyspark.sql import Window

    from multi_model_vectorsearch_spark.operators.scale import (
        global_orders_scalable,
    )

    ev = tables["events"].select(
        "user_id", F.round(F.col("value") * 100).cast("bigint").alias("c")
    )
    u = ev.groupBy("user_id").agg(
        F.sum("c").alias("spend"), F.count("*").alias("n"))
    got, n_total = global_orders_scalable(u, [
        ("r_up", ["spend", "user_id"], (("cum_n", "n"),), ()),
        ("r_dn", [("spend", "desc"), "user_id"], (),
         (("prev_min_n", "n"),)),
    ])
    assert n_total == u.count()
    wa = Window.orderBy("spend", "user_id")
    wd = Window.orderBy(F.desc("spend"), F.asc("user_id"))
    ref = (
        u.withColumn("r_up", F.row_number().over(wa))
        .withColumn("cum_n", F.sum("n").over(
            wa.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("r_dn", F.row_number().over(wd))
        .withColumn("prev_min_n", F.min("n").over(
            wd.rowsBetween(Window.unboundedPreceding, -1)))
    )
    cols = ["user_id", "spend", "n", "r_up", "cum_n", "r_dn", "prev_min_n"]
    assert (sorted(map(tuple, got.select(*cols).collect()))
            == sorted(map(tuple, ref.select(*cols).collect())))


@contextlib.contextmanager
def _rows_per_range(spark, n):
    """``spark.mmvs.gos.rowsPerRange`` set to ``n``, then unset."""
    spark.conf.set("spark.mmvs.gos.rowsPerRange", str(n))
    try:
        yield
    finally:
        spark.conf.unset("spark.mmvs.gos.rowsPerRange")


def test_global_orders_scalable_all_null_keys_raise(spark):
    """A spec whose sampled keys are all NULL has no range boundary, so
    its bucket would be a constant and its window one task: past
    rowsPerRange rows the helper raises, naming the spec."""
    import pytest

    from multi_model_vectorsearch_spark.operators.scale import (
        global_orders_scalable,
    )

    df = spark.range(50).select(
        F.lit(None).cast("bigint").alias("k"), F.col("id"))
    with _rows_per_range(spark, 4), pytest.raises(ValueError, match="'r'"):
        global_orders_scalable(df, [("r", ["k", "id"], (), ())])


def test_global_orders_scalable_empty_input(spark):
    """An empty input has no boundary either, but nothing to rank: no
    rows come back and nothing raises."""
    from multi_model_vectorsearch_spark.operators.scale import (
        global_orders_scalable,
    )

    df = spark.range(0).select(F.col("id").alias("k"), F.col("id"))
    with _rows_per_range(spark, 4):
        got, n_total = global_orders_scalable(df, [("r", ["k", "id"], (),
                                                     ())])
        assert n_total == 0 and got.collect() == []


def test_global_orders_scalable_equal_keys_match_window(spark):
    """All-equal leading keys with a unique tie-break still cut into
    several buckets and rank row-identically to ``Window.orderBy``."""
    from pyspark.sql import Window

    from multi_model_vectorsearch_spark.operators.scale import (
        global_orders_scalable,
    )

    df = spark.range(60).select(F.lit(7).cast("bigint").alias("k"),
                                F.col("id"))
    with _rows_per_range(spark, 8):
        got, n_total = global_orders_scalable(
            df, [("r", ["k", ("id", "desc")], (("cum", "id"),), ())])
        got = sorted(map(tuple, got.select("k", "id", "r", "cum").collect()))
    w = Window.orderBy("k", F.desc("id"))
    ref = df.withColumn("r", F.row_number().over(w)).withColumn(
        "cum", F.sum("id").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert n_total == 60
    assert got == sorted(map(tuple, ref.select("k", "id", "r",
                                               "cum").collect()))


def test_global_orders_scalable_cum_sums_by_type(spark):
    """Running sums over several buckets: a bigint ``cum_sums`` equals
    the ``Window.orderBy`` reference exactly, while a double one is the
    bucket offset plus the in-bucket sum, a different summation order,
    so it matches only to a relative 1e-12."""
    from pyspark.sql import Window

    from multi_model_vectorsearch_spark.operators.scale import (
        global_orders_scalable,
    )

    df = spark.range(200).select(
        "id", ((F.col("id") * 7919) % 211).alias("ki"),
        (F.col("id") * 0.1 + F.lit(1.0) / 3).alias("kd"))
    with _rows_per_range(spark, 16):
        got, _ = global_orders_scalable(
            df, [("r", ["id"], (("ci", "ki"), ("cd", "kd")), ())])
        got = sorted(map(tuple, got.select("id", "ci", "cd").collect()))
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)
    ref = sorted(map(tuple, df.select(
        "id", F.sum("ki").over(w).alias("ci"),
        F.sum("kd").over(w).alias("cd")).collect()))
    assert [(i, ci) for i, ci, _ in got] == [(i, ci) for i, ci, _ in ref]
    for (_, _, a), (_, _, b) in zip(got, ref):
        assert abs(a - b) <= 1e-12 * abs(b)


def test_grouped_lower_median_matches_window_reference(tables):
    """r15: the two-phase bucket median equals the per-group cumulative
    window selection (ties included via the RANGE frame) exactly —
    including on raw, un-collapsed rows and a deliberately tiny bucket
    width that forces multi-bucket selection paths."""
    from pyspark.sql import Window

    from multi_model_vectorsearch_spark.operators.scale import (
        grouped_lower_median_scalable,
    )

    li = tables["lineitem"].select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("x"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    got = sorted(map(tuple, grouped_lower_median_scalable(
        li, "l_returnflag", "x", "w", "med",
        F.shiftright("x", 8)).collect()))
    per_v = li.groupBy("l_returnflag", "x").agg(F.sum("w").alias("c"))
    wp = Window.partitionBy("l_returnflag")
    cum = (per_v.withColumn("cw", F.sum("c").over(wp.orderBy("x")))
           .withColumn("tw", F.sum("c").over(wp)))
    ref = sorted(map(tuple, (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag").agg(F.min("x").alias("med"))).collect()))
    assert got == ref
