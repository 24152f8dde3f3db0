"""Scale-technique tests: bucketed co-located joins (no Exchange) and
salted two-phase aggregation (identical to the plain aggregate)."""

from __future__ import annotations

from banking_data_etl_pipeline_spark.operators import skew
from banking_data_etl_pipeline_spark.sources import sinks, tables
from pyspark.sql import functions as F

from conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    d = str(tmp_path)
    orders = tables.load(spark, SF_DIR, "orders")
    lineitem = tables.load(spark, SF_DIR, "lineitem")
    sinks.write_bucketed(
        spark, orders, "t_orders_b", f"{d}/orders", "o_orderkey", 8
    )
    sinks.write_bucketed(
        spark, lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b", f"{d}/lineitem", "o_orderkey", 8,
    )
    a = spark.table("t_orders_b")
    b = spark.table("t_lineitem_b")
    # force SMJ (tables are tiny at sf0.001, broadcast would hide the
    # bucketing effect)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = a.join(b, "o_orderkey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        # sanity: result is right
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_agg_equals_plain(spark):
    ev = tables.load(spark, SF_DIR, "events")
    salted = {
        r.event_type: (r.n_rows, r.sum_value)
        for r in skew.salted_counts_sums(
            ev, "event_type", "value", "event_id", buckets=16
        ).collect()
    }
    plain = {
        r.event_type: (r.n_rows, r.sum_value)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .collect()
    }
    assert salted == plain
    # the salt really spreads: phase-1 has more groups than keys
    n_phase1 = (
        ev.withColumn("_salt", skew.salt_column(F.col("event_id"), 16))
        .groupBy("event_type", "_salt")
        .count()
        .count()
    )
    assert n_phase1 > len(plain)


def test_salted_join_spreads_key_and_matches_plain_join(spark):
    from banking_data_etl_pipeline_spark.operators import skew

    facts = spark.createDataFrame(
        [(i, "hot" if i % 10 != 0 else f"cold{i}", float(i)) for i in range(1000)],
        "event_id long, k string, v double",
    )
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"cold{i}", "C") for i in range(0, 1000, 10)],
        "k string, tag string",
    )
    plain = {(r.k, r.event_id, r.tag) for r in facts.join(dim, "k").collect()}
    # force the shuffle path — the operator exists for dims too big to
    # broadcast, so the test must exercise the (key, salt) exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        salted = skew.salted_broadcast_replicate_join(
            facts, dim, key="k", unique_col="event_id", buckets=8
        )
        got = {(r.k, r.event_id, r.tag) for r in salted.collect()}
        assert got == plain
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "_salt" in plan and "hashpartitioning(k" in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_snapshot_diff_on_bucketed_snapshots_is_shuffle_free(spark, tmp_path):
    """cdc.snapshot_diff's docstring claims the full-outer exchange
    disappears on bucketed snapshots — pin it."""
    from banking_data_etl_pipeline_spark.operators import cdc

    d = str(tmp_path)
    cust = tables.load(spark, SF_DIR, "customer").select("c_custkey", "c_acctbal")
    nxt = cust.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 2 == 0, F.col("c_acctbal") + 1.0).otherwise(
            F.col("c_acctbal")
        ),
    )
    sinks.write_bucketed(spark, cust, "t_cdc_cur", f"{d}/cur", "c_custkey", 4)
    sinks.write_bucketed(spark, nxt, "t_cdc_nxt", f"{d}/nxt", "c_custkey", 4)
    a = spark.table("t_cdc_cur")
    b = spark.table("t_cdc_nxt")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        diff = cdc.snapshot_diff(a, b, "c_custkey", ["c_acctbal"])
        plan = _plan(diff)
        assert "Exchange" not in plan, plan
        ops = {r.op for r in diff.collect()}
        assert ops == {"update", "unchanged"}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_self_pair_join_hot_path_matches_plain(spark):
    """Force the fragment-replicate path (threshold below the hot
    key's size) and check the pair set is EXACTLY the plain
    self-join's — including the cross-group pairs whose lower id lands
    in the higher salt group (the orientation the naive a.id < b.id
    predicate would drop), and payload columns following their ids."""
    rows = [("hot", i, 100 + i) for i in range(60)] + [
        ("cold", i, 500 + i) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "k string, rid long, w long")

    got = skew.salted_self_pair_join(
        df, keys=["k"], id_col="rid", payload=["w"],
        hot_threshold=10, target_block=8, max_salts=8,
    )
    got_rows = {
        (r.k, r.id_a, r.id_b, r.w_a, r.w_b) for r in got.collect()
    }
    want = {
        (k, i, j, wi, wj)
        for (k, i, wi) in rows
        for (k2, j, wj) in rows
        if k == k2 and i < j
    }
    assert got_rows == want
    # each pair exactly once (no duplicate blocks)
    assert got.count() == len(want)
    # the hot key actually fragmented: its 60 rows exceed the
    # threshold, so the join key space carries > 1 salt block
    assert got.filter(F.col("k") == "hot").count() == 60 * 59 // 2


def test_key_skew_profile_matches_manual_counts(spark):
    ev = tables.load(spark, SF_DIR, "events")
    row = skew.key_skew_profile(ev, "user_id").first()
    counts = sorted(
        (r[1] for r in ev.groupBy("user_id").count().collect()), reverse=True
    )
    assert row.n_rows == sum(counts)
    assert row.n_keys == len(counts)
    assert row.max_per_key == counts[0]
    assert row.top10_rows == sum(counts[:10])
    assert abs(row.top1_share - counts[0] / sum(counts)) < 1e-6
    assert 0.0 < row.top10_share <= 1.0


def test_pit_lookup_boundary_and_gap_semantics(spark):
    from banking_data_etl_pipeline_spark.operators import cdc

    dim = spark.createDataFrame(
        [
            (1, 10.0, "2020-01-01 00:00:00", "2021-01-01 00:00:00"),
            (1, 20.0, "2021-01-01 00:00:00", "2022-01-01 00:00:00"),
            # key 2: a single version that EXPIRES (gap afterwards)
            (2, 99.0, "2020-01-01 00:00:00", "2020-06-01 00:00:00"),
        ],
        "k long, bal double, valid_from string, valid_to string",
    ).selectExpr(
        "k",
        "bal",
        "CAST(valid_from AS TIMESTAMP) AS valid_from",
        "CAST(valid_to AS TIMESTAMP) AS valid_to",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, "2020-06-01 00:00:00"),  # inside v1
            (101, 1, "2021-01-01 00:00:00"),  # AT boundary -> v2
            (102, 1, "2023-01-01 00:00:00"),  # after expiry -> NULL
            (103, 2, "2020-07-01 00:00:00"),  # in the gap -> NULL
            (104, 3, "2020-07-01 00:00:00"),  # unknown key -> NULL
        ],
        "fid long, k long, ts string",
    ).selectExpr("fid", "k", "CAST(ts AS TIMESTAMP) AS ts")
    out = {
        r.fid: r.bal_asof
        for r in cdc.pit_lookup(
            facts, dim, key="k", ts_col="ts", val_col="bal", id_cols=["fid"]
        ).collect()
    }
    assert out == {100: 10.0, 101: 20.0, 102: None, 103: None, 104: None}


def test_pit_lookup_open_version_null_valid_to(spark):
    """SCD2 open-version convention: the current version has
    ``valid_to IS NULL`` and must cover every later timestamp — the
    struct-carried (val, valid_to) fix; a bare last(valid_to,
    ignorenulls) would have carried the PREVIOUS version's end."""
    from banking_data_etl_pipeline_spark.operators import cdc

    dim = spark.createDataFrame(
        [
            (1, 10.0, "2020-01-01 00:00:00", "2021-01-01 00:00:00"),
            (1, 20.0, "2021-01-01 00:00:00", None),  # open version
            (2, 99.0, "2020-01-01 00:00:00", None),  # only version, open
        ],
        "k long, bal double, valid_from string, valid_to string",
    ).selectExpr(
        "k",
        "bal",
        "CAST(valid_from AS TIMESTAMP) AS valid_from",
        "CAST(valid_to AS TIMESTAMP) AS valid_to",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, "2020-06-01 00:00:00"),  # inside closed v1
            (101, 1, "2025-01-01 00:00:00"),  # deep inside open v2
            (102, 2, "2019-01-01 00:00:00"),  # before any version -> NULL
            (103, 2, "2024-01-01 00:00:00"),  # inside the open version
        ],
        "fid long, k long, ts string",
    ).selectExpr("fid", "k", "CAST(ts AS TIMESTAMP) AS ts")
    out = {
        r.fid: r.bal_asof
        for r in cdc.pit_lookup(
            facts, dim, key="k", ts_col="ts", val_col="bal", id_cols=["fid"]
        ).collect()
    }
    assert out == {100: 10.0, 101: 20.0, 102: None, 103: 99.0}
