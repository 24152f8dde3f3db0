"""Round-13 operators, batch D: TPC-H Q15/Q7 shapes and the exact
higher-moment profile."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import profiling, relational
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR


def test_top_supplier_is_argmax(spark):
    li = tables.load(spark, SF_DIR, "lineitem")
    sup = tables.load(spark, SF_DIR, "supplier")
    rows = relational.top_supplier(li, sup).collect()
    assert rows
    # recompute the full ranking and check the winners equal the max
    full = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("rev")
        )
        .collect()
    )
    mx = max(r.rev for r in full)
    winners = {r.l_suppkey for r in full if r.rev == mx}
    assert {r.s_suppkey for r in rows} == winners
    for r in rows:
        assert r.total_revenue == round(float(mx), 4)


def test_top_supplier_pushes_date_filter(spark):
    li = tables.load(spark, SF_DIR, "lineitem")
    sup = tables.load(spark, SF_DIR, "supplier")
    plan = (
        relational.top_supplier(li, sup)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nation_volume_excludes_domestic_and_conserves(spark):
    li = tables.load(spark, SF_DIR, "lineitem")
    out = relational.nation_volume(
        li,
        tables.load(spark, SF_DIR, "orders"),
        tables.load(spark, SF_DIR, "customer"),
        tables.load(spark, SF_DIR, "supplier"),
        tables.load(spark, SF_DIR, "nation"),
    ).collect()
    assert out
    for r in out:
        assert r.supp_nation != r.cust_nation
        assert 1996 <= r.l_year <= 1997
        assert r.revenue > 0


def test_moments_profile_matches_python(spark):
    ev = tables.load(spark, SF_DIR, "events")
    got = {
        r.event_type: r for r in profiling.moments_profile(ev).collect()
    }
    vals = [
        (r.event_type, r.value)
        for r in ev.select("event_type", "value").collect()
        if r.value is not None
    ]
    by_type: dict[str, list[int]] = {}
    for t, v in vals:
        # the same milli quantization: 6dp decimal capture, then an
        # exact decimal round-half-away-from-zero to milli (the r14
        # fix — a bare decimal->bigint cast truncated in Spark but
        # rounded in DuckDB on sub-milli values)
        d = int(round(v * 1e6))  # fixture values are 2dp; no 6dp ties
        y = (abs(d) + 500) // 1000 * (1 if d >= 0 else -1)
        by_type.setdefault(t, []).append(y)
    for t, ys in by_type.items():
        n = len(ys)
        r1 = sum(ys) / n
        m2 = sum(y * y for y in ys) / n - r1 * r1
        r3 = sum(y**3 for y in ys) / n
        r2 = sum(y * y for y in ys) / n
        m3 = r3 - 3 * r1 * r2 + 2 * r1**3
        g = got[t]
        assert g.n == n
        assert abs(g.mean - r1 / 1000) < 1e-6
        assert abs(g.std - math.sqrt(m2) / 1000) < 1e-6
        if m2 > 0:
            assert abs(g.skewness - m3 / (m2 * math.sqrt(m2))) < 1e-5


def test_moments_profile_degenerate_group(spark):
    df = spark.createDataFrame(
        [("a", 2.0), ("a", 2.0), ("b", 1.0), ("b", 3.0)],
        "event_type string, value double",
    )
    got = {r.event_type: r for r in profiling.moments_profile(df).collect()}
    # constant group: std 0, shape stats NULL
    assert got["a"].std == 0.0
    assert got["a"].skewness is None and got["a"].kurtosis_excess is None
    # symmetric two-point group: skew 0, excess kurtosis -2
    assert got["b"].skewness == 0.0
    assert got["b"].kurtosis_excess == -2.0


def test_stream_moments_split_delivery_equals_batch(spark, tmp_path):
    """Sums of SIGNED values are not monotone, so the drain takes the
    latest state by the monotone row count — two micro-batch files
    must still reproduce the batch profile EXACTLY."""
    import os

    from banking_data_etl_pipeline_spark.streaming import events as EV

    ev = tables.load(spark, SF_DIR, "events")
    d = str(tmp_path / "feed")
    os.makedirs(d)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        d, mode="append"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        d, mode="append"
    )
    got = sorted(
        map(tuple, EV.moments_stream(spark, d).collect())
    )
    want = sorted(map(tuple, profiling.moments_profile(ev).collect()))
    assert got == want


def test_moments_submilli_quantization_matches_duckdb(spark):
    """r13 ADVICE: sub-milli values must quantize IDENTICALLY in both
    engines — the bare decimal->bigint cast truncated in Spark but
    rounded half-away in DuckDB, masked until now only because the
    fixtures carry 2dp values. Pins the explicit decimal round."""
    import duckdb

    rows = [
        ("a", 0.0005),
        ("a", 0.0015),
        ("a", -0.0005),
        ("a", 0.0024999),
        ("b", 1.2345),
        ("b", -2.0515),
    ]
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = {
        r.event_type: (r.n, int(r.s1))
        for r in profiling.moments_power_sums(df).collect()
    }
    con = duckdb.connect()
    con.register("ev", __import__("pandas").DataFrame(
        rows, columns=["event_type", "value"]
    ))
    want = {
        t: (n, s1)
        for t, n, s1 in con.execute(
            """SELECT event_type, count(*),
                      CAST(sum(CAST(round(
                        CAST(value AS DECIMAL(18,6)) * 1000, 0
                      ) AS BIGINT)) AS BIGINT)
               FROM ev GROUP BY event_type"""
        ).fetchall()
    }
    assert got == want, (got, want)
    # the specific trap values: 0.0005 -> 1 (not 0), -0.0005 -> -1,
    # and 0.0024999 -> 0.002500 at the 6dp capture -> 3 (two stacked
    # half-away roundings, identical in both engines)
    assert got["a"] == (4, 1 + 2 - 1 + 3)
