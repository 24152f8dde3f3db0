"""Reshape (unpivot/intersect) and robust-statistics (winsorize/MAD)
operators added in round 3."""

from __future__ import annotations

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import relational


def test_unpivot_is_two_rows_per_group_and_map_only(spark):
    li = spark.createDataFrame(
        [("A", 1.0, 10.0), ("A", 2.0, 20.0), ("B", 3.0, 30.0)],
        "l_returnflag string, l_quantity double, l_extendedprice double",
    )
    out = relational.unpivot_pricing(li)
    rows = {(r.l_returnflag, r.metric): r.value for r in out.collect()}
    assert rows == {
        ("A", "sum_qty"): 3.0,
        ("A", "sum_price"): 30.0,
        ("B", "sum_qty"): 3.0,
        ("B", "sum_price"): 30.0,
    }
    # the reshape itself adds no exchange beyond the aggregate's one
    # (AQE prints Final + Initial plan sections — count only the final)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final
    assert "Expand" in final, final


def test_intersect_deduplicates(spark):
    orders = spark.createDataFrame(
        [
            (1, "1996-05-01"), (1, "1996-06-01"), (1, "1999-01-01"),
            (2, "1996-02-01"),                      # 1996 only
            (3, "1999-03-01"),                      # 1999 only
        ],
        "o_custkey long, d string",
    ).select("o_custkey", F.col("d").cast("timestamp").alias("o_orderdate"))
    got = [r.o_custkey for r in relational.intersect_active_customers(orders).collect()]
    assert got == [1]


def test_winsorize_clips_extremes(spark):
    li = spark.createDataFrame(
        [("A", float(v)) for v in range(101)],
        "l_returnflag string, l_extendedprice double",
    )
    [r] = relational.winsorized_prices(li).collect()
    # p01 = 1.0, p99 = 99.0 over 0..100 -> one clip each side, sum
    # unchanged (0->1 cancels 100->99)
    assert (r.n_clipped_low, r.n_clipped_high, r.n_items) == (1, 1, 101)
    assert r.sum_winsorized == 5050.0


def test_mad_flags_extreme_outlier(spark):
    ev = spark.createDataFrame(
        [("click", 10.0)] * 9 + [("click", 1000.0)],
        "event_type string, value double",
    )
    [r] = relational.mad_outliers(ev).collect()
    # median 10, MAD 0 -> only the 1000.0 point deviates
    assert (r.med, r.mad, r.n_outliers, r.n_events) == (10.0, 0.0, 1, 10)


def test_table_checksum_is_order_and_partitioning_invariant(spark):
    from banking_data_etl_pipeline_spark.operators import reconcile

    df = spark.createDataFrame(
        [(i, f"name{i}") for i in range(500)], "k long, name string"
    )
    [a] = reconcile.table_checksum(df, ["k", "name"]).collect()
    [b] = reconcile.table_checksum(df.repartition(13, "name"), ["k", "name"]).collect()
    assert (a.n_rows, a.checksum) == (b.n_rows, b.checksum)
    # sensitive to any single-row change
    changed = df.withColumn(
        "name", F.when(F.col("k") == 250, "NAME250").otherwise(F.col("name"))
    )
    [c] = reconcile.table_checksum(changed, ["k", "name"]).collect()
    assert c.checksum != a.checksum


def test_grouped_checksums_sum_to_table_checksum(spark):
    from banking_data_etl_pipeline_spark.operators import reconcile

    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(300)], "k long, name string"
    )
    [t] = reconcile.table_checksum(df, ["k", "name"]).collect()
    parts = reconcile.grouped_checksum(df, F.col("k") % 7, ["k", "name"]).collect()
    assert sum(int(r.checksum) for r in parts) == int(t.checksum)
    assert sum(r.n_rows for r in parts) == t.n_rows


def test_expectations_single_pass_and_counts(spark):
    from banking_data_etl_pipeline_spark.operators import expectations as X

    df = spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (1, -1.0, "A"),      # dup key + range violation
            (2, None, "B"),      # range rule ignores nulls
            (3, 5.0, "Z"),       # bad enum
            (None, 2.0, "A"),    # null key
        ],
        "k long, v double, s string",
    )
    parent = spark.createDataFrame([(1,), (2,)], "p long")
    out = X.run_checks(
        df,
        [X.not_null("k"), X.in_range("v", 0.0, 100.0),
         X.accepted_values("s", ["A", "B"]), X.unique("k")],
        ref_integrity=[("k", parent, "p")],
    )
    got = {r.rule: r.violations for r in out.collect()}
    assert got == {
        "not_null(k)": 1,
        "in_range(v,0.0,100.0)": 1,
        "accepted_values(s)": 1,
        "unique(k)": 1,
        "ref_integrity(k->p)": 1,
    }
    # all row-level rules ride ONE aggregation over one scan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") <= 3, plan  # row rules + ref count


def test_profile_table_exact_and_sketch(spark):
    """Exact profile matches hand-computed stats; sketch mode stays
    within HLL tolerance and avoids the exact-distinct Expand."""
    from banking_data_etl_pipeline_spark.operators import profiling
    from banking_data_etl_pipeline_spark.sources import tables

    from conftest import SF_DIR

    orders = tables.load(spark, SF_DIR, "orders")
    cols = ["o_custkey", "o_orderstatus"]
    prof = {r.column_name: r for r in profiling.profile_table(orders, cols).collect()}
    want_distinct = orders.select("o_custkey").distinct().count()
    assert prof["o_custkey"].n_distinct == want_distinct
    assert prof["o_custkey"].n_nulls == 0
    assert int(prof["o_custkey"].min_value) <= int(prof["o_custkey"].max_value)
    approx = {
        r.column_name: r
        for r in profiling.profile_table(orders, cols, exact_distinct=False).collect()
    }
    assert abs(approx["o_custkey"].n_distinct - want_distinct) <= 0.1 * want_distinct
    plan = profiling.profile_table(orders, cols, exact_distinct=False)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


def test_ols2_matches_numpy_lstsq(spark):
    import numpy as np

    from banking_data_etl_pipeline_spark.operators import relational
    from banking_data_etl_pipeline_spark.sources import tables

    from conftest import SF_DIR

    li = tables.load(spark, SF_DIR, "lineitem")
    got = {
        r.l_returnflag: r
        for r in relational.ols2(
            li, "l_returnflag", "l_extendedprice", "l_quantity", "l_discount"
        ).collect()
    }
    rows = li.select(
        "l_returnflag", "l_extendedprice", "l_quantity", "l_discount"
    ).collect()
    for flag in got:
        sub = [r for r in rows if r.l_returnflag == flag]
        X = np.array([[1.0, float(r.l_quantity), float(r.l_discount)] for r in sub])
        yv = np.array([float(r.l_extendedprice) for r in sub])
        beta, *_ = np.linalg.lstsq(X, yv, rcond=None)
        g = got[flag]
        assert g.n == len(sub)
        for want, have in zip(beta, (g.b0, g.b1, g.b2)):
            assert abs(want - have) < 1e-3 * max(1.0, abs(want)), (flag, want, have)
        # r2 within [0, 1] and matches numpy residuals loosely
        pred = X @ beta
        sse = float(((yv - pred) ** 2).sum())
        sst = float(((yv - yv.mean()) ** 2).sum())
        assert abs(g.r2 - (1 - sse / sst)) < 1e-3, (flag, g.r2)


def test_ols2_singular_group_yields_null_not_error(spark):
    """Constant feature -> singular X'X; constant y -> zero R^2
    denominator. Under Spark 4 ANSI mode an unguarded division raises
    DIVIDE_BY_ZERO; the nullif guards must yield NULLs instead (the
    DuckDB twin's behavior)."""
    from banking_data_etl_pipeline_spark.operators import relational

    rows = [
        # group 'sing': x2 constant -> det = 0 -> NULL coefficients
        ("sing", 1.0, 1.0, 5.0),
        ("sing", 2.0, 2.0, 5.0),
        ("sing", 3.0, 3.0, 5.0),
        # group 'flat': y constant -> R^2 denominator 0 -> NULL r2
        ("flat", 7.0, 1.0, 1.0),
        ("flat", 7.0, 2.0, 4.0),
        ("flat", 7.0, 3.0, 9.0),
        ("flat", 7.0, 4.0, 16.0),
        # group 'ok': well-conditioned control
        ("ok", 1.0, 1.0, 2.0),
        ("ok", 2.0, 2.0, 3.0),
        ("ok", 4.0, 3.0, 5.0),
        ("ok", 8.0, 4.0, 9.0),
    ]
    df = spark.createDataFrame(rows, "g string, y double, x1 double, x2 double")
    out = {r.g: r for r in relational.ols2(df, "g", "y", "x1", "x2").collect()}
    assert out["sing"].b0 is None and out["sing"].b1 is None
    assert out["sing"].b2 is None and out["sing"].r2 is None
    assert out["flat"].r2 is None
    assert out["ok"].b0 is not None and out["ok"].r2 is not None


def test_corr_matrix_constant_column_yields_null_not_error(spark):
    from banking_data_etl_pipeline_spark.operators import relational

    df = spark.createDataFrame(
        [(1.0, 5.0, 2.0), (2.0, 5.0, 4.0), (3.0, 5.0, 6.0)],
        "a double, b double, c double",
    )
    got = {
        (r.col_a, r.col_b): r.corr
        for r in relational.corr_matrix(df, ["a", "b", "c"]).collect()
    }
    assert got[("a", "b")] is None  # zero variance in b
    assert got[("b", "c")] is None
    assert got[("a", "c")] == 1.0


def test_corr_matrix_matches_numpy(spark):
    import numpy as np

    from banking_data_etl_pipeline_spark.operators import relational
    from banking_data_etl_pipeline_spark.sources import tables

    from conftest import SF_DIR

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = tables.load(spark, SF_DIR, "lineitem")
    got = {
        (r.col_a, r.col_b): r.corr
        for r in relational.corr_matrix(li, cols).collect()
    }
    assert len(got) == 6
    data = np.array(
        [[float(v) for v in row] for row in li.select(*cols).collect()]
    )
    want = np.corrcoef(data, rowvar=False)
    for i in range(4):
        for j in range(i + 1, 4):
            assert abs(got[(cols[i], cols[j])] - want[i, j]) < 1e-6, (i, j)
    # every correlation is a valid coefficient
    assert all(-1.0 <= v <= 1.0 for v in got.values())


def test_snapshot_diff_statuses(spark):
    from banking_data_etl_pipeline_spark.operators import reconcile

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k long, name string, v long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 99), (4, "d", 40), (5, "e", 50)],
        "k long, name string, v long",
    )
    out = {
        r.k: r.diff_status
        for r in reconcile.hash_snapshot_diff(old, new, ["k"], ["name", "v"]).collect()
    }
    # unchanged rows (1, 4) are dropped
    assert out == {2: "changed", 3: "removed", 5: "added"}


def test_snapshot_diff_null_values_hash_stably(spark):
    from banking_data_etl_pipeline_spark.operators import reconcile

    old = spark.createDataFrame([(1, None), (2, "x")], "k long, name string")
    new = spark.createDataFrame([(1, None), (2, None)], "k long, name string")
    out = {
        r.k: r.diff_status
        for r in reconcile.hash_snapshot_diff(old, new, ["k"], ["name"]).collect()
    }
    assert out == {2: "changed"}  # NULL == NULL -> unchanged, dropped


def test_shipping_priority_filters_and_ranks(spark):
    from banking_data_etl_pipeline_spark.operators import relational
    from banking_data_etl_pipeline_spark.sources import tables

    from conftest import SF_DIR

    rows = relational.shipping_priority(
        tables.load(spark, SF_DIR, "customer"),
        tables.load(spark, SF_DIR, "orders"),
        tables.load(spark, SF_DIR, "lineitem"),
    ).collect()
    assert 0 < len(rows) <= 10
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert all(r.o_orderdate < "1998-06-15" for r in rows)
