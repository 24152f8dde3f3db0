"""Relational breadth: joins, aggregations, rollups over the TPC-H-ish
driver tables.

The reference has NO joins/aggregations (SURVEY.md §2 "categories with
no implementation") — these exist because a real analytics engine at
100 TB is mostly joins and aggregates, and they demonstrate the
Spark-first planning stance:

- dimension tables (nation: 25 rows) are broadcast — no shuffle of the
  fact side for that join;
- fact-fact joins (lineitem ⋈ orders) shuffle on the join key once and
  AQE handles skew;
- all double SUMs go through DECIMAL(18,6): exact, order-independent
  (so results are stable across partitionings AND hash-match the
  DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dec_sum(col, alias: str, scale: int = 4):
    return F.round(
        F.sum(col.cast("decimal(18,6)")).cast("double"), scale
    ).alias(alias)


def top_k(df: DataFrame, by, order, k: int, rank: str = "rank") -> DataFrame:
    """The first ``k`` rows of each ``by`` group in ``order``, numbered
    1..k in the int column ``rank`` (``row_number``: end ``order`` on a
    unique key, or ties take an arbitrary rank).

    One window, pruned by Spark itself: for a rank-like window with a
    filter on its rank, the optimizer (``InferWindowGroupLimit``) plans
    a ``WindowGroupLimit … Partial`` that keeps at most ``k`` rows per
    group in each partition BEFORE the window's one exchange, and a
    ``Final`` one after it, so only pruned survivors are shuffled and
    no reducer sorts a whole group. That rests on two conditions: the
    filter sits directly on the rank (filter the result further only
    after this call), and ``k`` <= ``spark.sql.optimizer.
    windowGroupLimitThreshold`` (default 1000). Past the threshold the
    answer is the same, but every row crosses the exchange."""
    w = Window.partitionBy(by).orderBy(order)
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def revenue_by_nation(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Revenue per customer nation: lineitem ⋈ orders ⋈ customer ⋈
    broadcast(nation). The two big joins shuffle on their keys; the
    25-row nation join is broadcast (verify: no Exchange above it in
    .explain)."""
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dec_sum(rev, "revenue"),
        )
    )


def brand_revenue_by_nation(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q9-shaped profit rollup: one fact table joined to THREE
    broadcast dimensions (part, supplier, nation) — the star-join shape
    where the fact side never shuffles for the joins; the only exchange
    is the final group-by. At 100 TB part may outgrow the broadcast
    threshold, at which point AQE falls back to a shuffled hash join on
    the sorted-key side only."""
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dec_sum(rev, "revenue"),
        )
    )


def pricing_summary(lineitem: DataFrame, cutoff: str = "1997-06-30") -> DataFrame:
    """TPC-H Q1-shaped pricing summary with a ship-date predicate that
    must push down into the parquet scan (check PushedFilters in
    .explain)."""
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _dec_sum(rev, "sum_disc_price"),
            (
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("_avg"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("_avg"), 4))
        .drop("_avg")
    )


def moving_avg_user_value(events: DataFrame, window_rows: int = 2) -> DataFrame:
    """Per-user moving average of event value over the trailing
    ``window_rows``+1 events (event-time ordered) — the window-function
    family beyond rank: one shuffle on user_id, sort within partition.

    The average is sum(DECIMAL)/count so the double division happens
    once per row in both engines (identical bits)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-window_rows, 0)
    )
    return events.select(
        "user_id",
        "event_id",
        F.round(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
                / F.count(F.lit(1)).over(w)
            ),
            4,
        ).alias("moving_avg"),
    )


def trailing_hour_totals(events: DataFrame) -> DataFrame:
    """RANGE-frame window: per event, the user's value total over the
    trailing hour of EVENT TIME (not row count — a range frame over
    epoch seconds, which unlike ``moving_avg``'s ROWS frame handles
    irregular event spacing). One shuffle on user_id."""
    from pyspark.sql import Window

    sec = F.unix_micros(F.col("ts")) / F.lit(1_000_000.0)
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double"), 4
        ).alias("hour_total"),
    )


def repeat_customers(orders: DataFrame, split: str = "1997-01-01") -> DataFrame:
    """Set operation: customers ordering BOTH before and after the
    split date (INTERSECT — distinct-based, shuffles only custkeys)."""
    cutoff = F.lit(split).cast("timestamp")
    before = orders.filter(F.col("o_orderdate") < cutoff).select("o_custkey")
    after = orders.filter(F.col("o_orderdate") >= cutoff).select("o_custkey")
    return before.intersect(after)


def lapsed_customers(orders: DataFrame, split: str = "2000-07-01") -> DataFrame:
    """Set operation: customers ordering BEFORE but not AFTER the
    split (EXCEPT — the complement of ``repeat_customers``)."""
    cutoff = F.lit(split).cast("timestamp")
    before = orders.filter(F.col("o_orderdate") < cutoff).select("o_custkey")
    after = orders.filter(F.col("o_orderdate") >= cutoff).select("o_custkey")
    return before.subtract(after)  # EXCEPT (distinct) semantics


def users_per_type_listagg(events: DataFrame) -> DataFrame:
    """LISTAGG/STRING_AGG: per event type, the ordered comma-joined
    distinct user list. Deterministic because the set is sorted
    NUMERICALLY before joining — an unordered listagg is a parity (and
    reproducibility) bug by construction."""
    return events.groupBy("event_type").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set("user_id")),
                lambda u: u.cast("string"),
            ),
            ",",
        ).alias("users_csv"),
        F.count(F.lit(1)).alias("n_events"),
    )


def distinct_users_by_type(events: DataFrame) -> DataFrame:
    """Exact COUNT(DISTINCT) per group — expands to a two-phase
    aggregate (partial distinct per partition, then merge), the plan
    shape that survives hot keys at scale."""
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def above_customer_avg(orders: DataFrame) -> DataFrame:
    """Correlated-subquery pattern (orders above their own customer's
    average), decorrelated the way Catalyst would: one window pass on
    the correlation key instead of a per-row subquery — at scale this
    is one shuffle, not a join back onto a re-aggregation. The average
    is decimal-sum/count so both engines divide identical doubles."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey")
    # exact cross-engine average: scale the exact decimal sum to
    # integer 1e-4 units, floor-divide by the count (both engines floor
    # positive integer division), then one double division — no
    # round()-of-double, whose half-way cases Spark (shortest-repr
    # BigDecimal) and DuckDB (true binary value) resolve differently
    scaled = (
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w) * 10000
    ).cast("long")
    staged = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        scaled.alias("_scaled"),
        F.count(F.lit(1)).over(w).alias("_cnt"),
    )
    return (
        staged.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            (F.expr("_scaled DIV _cnt") / F.lit(10000.0)).alias("cust_avg"),
        )
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
    )


def rollup_orders(orders: DataFrame) -> DataFrame:
    """ROLLUP(status, priority): per-group, per-status subtotal and
    grand total in one pass (Spark expands to a single Expand +
    hash-agg — one shuffle, not three queries)."""
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum(F.col("o_totalprice"), "total_price"),
        )
    )


def cube_orders(orders: DataFrame) -> DataFrame:
    """CUBE(status, priority): all four grouping sets in one Expand +
    hash-agg pass. ``grouping()`` flags disambiguate real NULL group
    values from subtotal rows — at 100 TB you cannot afford a second
    query per margin."""
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum(F.col("o_totalprice"), "total_price"),
        )
    )


def big_spenders(customer: DataFrame, orders: DataFrame, min_total: float = 480000.0) -> DataFrame:
    """LEFT SEMI join: customers with at least one order over
    ``min_total``. Semi joins keep only the probe side — no row
    multiplication, and Spark dedups the build side before the hash
    join, so a customer with 50 qualifying orders still emits once."""
    big = orders.filter(F.col("o_totalprice") > min_total).select("o_custkey")
    return customer.join(
        big, customer["c_custkey"] == big["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def customers_without_orders(
    customer: DataFrame, orders: DataFrame, since: str = "2000-01-01"
) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no order since
    ``since`` — lapsed customers. Same single-shuffle hash join shape
    as the semi join; the date filter pushes into the orders scan."""
    keys = orders.filter(
        F.col("o_orderdate") >= F.lit(since).cast("timestamp")
    ).select("o_custkey")
    return customer.join(
        keys, customer["c_custkey"] == keys["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


def price_percentiles(lineitem: DataFrame) -> DataFrame:
    """Exact interpolated percentiles of extended price per return
    flag. ``percentile`` is an exact sort-based aggregate (same linear
    interpolation as ANSI ``quantile_cont``); for 100 TB pipelines the
    one-pass sketch alternative is ``approx_percentile`` — same call
    shape, bounded memory — but the oracle-checked path is exact."""
    pcts = F.percentile(F.col("l_extendedprice"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return lineitem.groupBy("l_returnflag").agg(
        F.round(pcts[0], 4).alias("p25"),
        F.round(pcts[1], 4).alias("p50"),
        F.round(pcts[2], 4).alias("p75"),
        F.count(F.lit(1)).alias("n_items"),
    )


def asof_last_order(events: DataFrame, orders: DataFrame) -> DataFrame:
    """As-of join: for each event, the customer's most recent order at
    or before the event time (ties broken by highest orderkey).

    Spark has no ASOF JOIN operator, and the naive formulation
    (``e.user_id = o.o_custkey AND o.o_orderdate <= e.ts`` + top-1) is
    a quadratic range join. This is the linear union trick instead:
    stack both sides sorted by (key, time), carry the latest order
    forward with ``last(..., ignoreNulls)`` over an unbounded-preceding
    window, and keep the event rows. One shuffle on the key, one sort —
    the same work as a sort-merge join, no row multiplication. A key
    whose history exceeds one executor's partition needs time-range
    chunking on top; below that, this shape holds at any scale."""
    from pyspark.sql import Window

    ev = events.select(
        "event_id",
        "user_id",
        F.col("ts").alias("_t"),
        F.lit(1).alias("_is_event"),
        F.lit(None).cast("long").alias("_okey"),
        F.lit(None).cast("double").alias("_oprice"),
    )
    od = orders.select(
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("_t"),
        F.lit(0).alias("_is_event"),
        F.col("o_orderkey").alias("_okey"),
        F.col("o_totalprice").alias("_oprice"),
    )
    # order rows sort before events at the same instant (<= semantics);
    # same-instant orders sort by orderkey so last() takes the highest
    w = (
        Window.partitionBy("user_id")
        .orderBy("_t", "_is_event", "_okey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.unionByName(od)
        .select(
            "event_id",
            "user_id",
            "_t",
            "_is_event",
            F.last("_okey", ignorenulls=True).over(w).alias("last_orderkey"),
            F.last("_oprice", ignorenulls=True).over(w).alias("last_totalprice"),
        )
        .filter(F.col("_is_event") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("_t").alias("ts"),
            "last_orderkey",
            "last_totalprice",
        )
    )


EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def pivot_daily_values(events: DataFrame) -> DataFrame:
    """PIVOT: per-day event-type value sums as columns. The pivot
    values are DECLARED (not discovered) — at scale an undeclared
    pivot needs an extra distinct-collect job before planning; a
    declared one is a single conditional-aggregation pass."""
    day = F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day_epoch")
    pivoted = (
        events.select(day, "event_type", "value")
        .groupBy("day_epoch")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4))
    )
    return pivoted.select(
        "day_epoch", *[F.col(t).alias(f"{t}_sum") for t in EVENT_TYPES]
    )


def price_histogram(orders: DataFrame, width: float = 25000.0, n_buckets: int = 20) -> DataFrame:
    """Fixed-width histogram of order totals — one map-side bucket
    projection + one aggregation shuffle (vs NTILE's global sort; at
    scale declared-bound histograms are the only shape that stays
    map-parallel). Bucket = floor(x/width) clamped to the top bucket;
    floor of the identical double division is engine-identical."""
    bucket = F.least(
        F.floor(F.col("o_totalprice") / F.lit(width)), F.lit(n_buckets - 1)
    ).cast("int")
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dec_sum(F.col("o_totalprice"), "total_price"),
    )


def acctbal_deciles(customer: DataFrame, tiles: int = 10) -> DataFrame:
    """NTILE(10) decile stats over account balance, EXACT but with no
    single-reducer sort (a bare ``Window.orderBy`` ships every row to
    one partition — the classic 100 TB scale-killer).

    Distributed-rank construction instead:
      1. ``repartitionByRange`` on the sort key — a parallel range
         shuffle whose boundary sampling is deterministically seeded
         (RangePartitioner XORShift per input partition), so repeated
         jobs over the same input agree on boundaries;
      2. per-range-partition row counts → cumulative offsets. This is
         ≤ #partitions longs — model-parameter scale, pulled to the
         driver and re-broadcast as a literal map (same pattern as the
         IVF/k-means centroid pulls);
      3. local ``row_number`` windows partitioned by partition id
         (parallel across all reducers) + offset = exact global rank;
      4. NTILE arithmetic on (rank, N): first N%t tiles get ⌈N/t⌉ rows.
    Result is bit-identical to ``ntile(10) OVER (ORDER BY ...)`` while
    every exchange in the plan stays parallel (asserted by
    ``tests/test_plan_quality.py``)."""
    from pyspark.sql import Window

    key = [F.col("c_acctbal").asc(), F.col("c_custkey").asc()]
    spark = customer.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # persist BEFORE the counts collect: the offset map and the final
    # decile aggregation are two separately planned jobs, and
    # RangePartitioner boundary sampling is only guaranteed identical
    # when both jobs read the one materialized partitioning. Pinned
    # for end-of-query release (r13 ADVICE) — release is eviction-
    # equivalent and the construction is documented LRU-eviction-safe.
    from ..session import pin_for_query

    ranged = pin_for_query(
        customer.select("c_custkey", "c_acctbal")
        .repartitionByRange(shuffle_n, *key)
        .withColumn("_pid", F.spark_partition_id())
    )

    counts = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    acc, offsets, total = 0, {}, 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = acc
        acc += r["_n"]
    total = acc
    if total == 0:
        return (
            customer.select(
                F.lit(1).alias("decile"),
                F.lit(0).cast("long").alias("n_customers"),
                F.lit(0.0).alias("min_bal"),
                F.lit(0.0).alias("max_bal"),
            ).limit(0)
        )
    off_map = F.map_from_arrays(
        F.array(*[F.lit(p) for p in offsets]),
        F.array(*[F.lit(v) for v in offsets.values()]),
    )

    w = Window.partitionBy("_pid").orderBy(*key)
    rank = (F.row_number().over(w).cast("long") + off_map[F.col("_pid")]).alias(
        "_rank"
    )
    base, rem = total // tiles, total % tiles
    cut = rem * (base + 1)  # ranks 1..cut live in the (base+1)-sized tiles
    # integer DIV, not `/`: double division truncation can misplace a
    # boundary rank once N is large enough for FP error to matter
    decile = (
        F.when(
            F.col("_rank") <= cut, F.expr(f"(_rank - 1) DIV {base + 1}")
        )
        .otherwise(F.expr(f"{rem} + (_rank - {cut} - 1) DIV {max(base, 1)}"))
        .cast("int")
        + 1
    ).alias("decile")
    return (
        ranged.select("c_acctbal", rank)
        .select("c_acctbal", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


def multires_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly buckets, with the
    daily resolution RE-AGGREGATED FROM THE HOURLY PARTIALS rather than
    from raw rows — at 100 TB the raw table is read once and each
    coarser resolution costs only the finer one's (tiny) output. Sums
    stay DECIMAL until the terminal projection so the re-aggregation is
    exact (double partials would drift vs a direct daily group-by).
    Day boundary via epoch//86400 on UTC-truncated hour epochs ==
    date_trunc('day') in the UTC session."""
    hourly = events.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("bucket_epoch"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("_sv"),
    )
    daily = hourly.groupBy(
        (F.expr("bucket_epoch DIV 86400") * 86400).alias("bucket_epoch"),
        "event_type",
    ).agg(F.sum("n_events").alias("n_events"), F.sum("_sv").alias("_sv"))
    out = lambda df, res: df.select(  # noqa: E731
        F.lit(res).alias("resolution"),
        "bucket_epoch",
        "event_type",
        "n_events",
        F.round(F.col("_sv").cast("double"), 4).alias("sum_value"),
    )
    return out(hourly, "hour").unionByName(out(daily, "day"))


def props_stats(events: DataFrame) -> DataFrame:
    """Semi-structured extraction: parse the ``props`` JSON column with
    a typed ``from_json`` (JVM-side Jackson parse, no UDF) and
    aggregate the extracted field. The parse happens once in the scan
    projection; at 100 TB prefer persisting extracted fields columnar
    over re-parsing JSON per query."""
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.col("k").cast("long")).alias("sum_k"),
        )
    )


def user_value_trend(events: DataFrame, origin: str = "2024-01-01") -> DataFrame:
    """Per-user linear trend: ``regr_slope`` of event value over time
    (days since ``origin``) — the regression-aggregate family. X is
    integer-micros arithmetic scaled to double days so both engines
    accumulate identically-scaled co-moments."""
    x = (
        F.unix_micros(F.col("ts"))
        - F.unix_micros(F.lit(origin).cast("timestamp"))
    ).cast("double") / F.lit(86400.0 * 1_000_000)
    return events.groupBy("user_id").agg(
        # + 0.0: signed-zero normalization (Spark round -> +0.0,
        # DuckDB keeps -0.0 for tiny negative slopes)
        (F.round(F.regr_slope(F.col("value"), x), 4) + F.lit(0.0)).alias(
            "slope_per_day"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


def range_join_followers(events: DataFrame, hours: int = 24) -> DataFrame:
    """Per event: how many OTHER events the same user produced within
    the next ``hours`` (inclusive) — a time-range self-join.

    A plain inequality join plans as a broadcast-nested-loop (all-pairs
    per key). Banding instead: bucket both sides into ``hours``-wide
    epoch bands; a follower within [t, t+hours] lands in the probe's
    band or the next one, so each probe row joins exactly two candidate
    bands on an equi-key and the exact range predicate filters after.
    Candidate work per row is bounded by band density, never by table
    size — the standard bounded-range-join rewrite."""
    band = int(hours) * 3600
    bucket = (F.unix_timestamp("ts") / band).cast("long")
    probe = events.select(
        "event_id",
        "user_id",
        "ts",
        F.explode(F.array(bucket, bucket + 1)).alias("_band"),
    )
    cand = events.select(
        F.col("user_id").alias("_cuser"),
        F.col("event_id").alias("_cid"),
        F.col("ts").alias("_cts"),
        bucket.alias("_cband"),
    )
    joined = probe.join(
        cand,
        (F.col("user_id") == F.col("_cuser"))
        & (F.col("_band") == F.col("_cband"))
        & (F.col("_cts") >= F.col("ts"))
        & (F.col("_cts") <= F.col("ts") + F.expr(f"INTERVAL {int(hours)} HOURS"))
        & (F.col("_cid") != F.col("event_id")),
        "left",
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.count(F.col("_cid")).alias("n_followers")
    )


def unpivot_pricing(lineitem: DataFrame) -> DataFrame:
    """Wide-to-long reshape (UNPIVOT/melt) of a per-returnflag pricing
    aggregate: (flag, sum_qty, sum_price) -> (flag, metric, value).

    Spark's native ``unpivot`` is a map-only Expand (each input row
    fans out to one row per value column in place) — no shuffle beyond
    the upstream aggregate, so the reshape is free at any scale."""
    wide = lineitem.groupBy("l_returnflag").agg(
        _dec_sum(F.col("l_quantity"), "sum_qty"),
        _dec_sum(F.col("l_extendedprice"), "sum_price"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


def intersect_active_customers(
    orders: DataFrame, year_a: int = 1996, year_b: int = 1999
) -> DataFrame:
    """INTERSECT set op: customers who ordered in BOTH years. Spark
    plans intersect as a left-semi aggregate join on the full row —
    one shuffle per side on the same key, co-partitioned."""
    def custs(year: int) -> DataFrame:
        return orders.filter(F.year("o_orderdate") == year).select("o_custkey")

    return custs(year_a).intersect(custs(year_b))


def winsorized_prices(lineitem: DataFrame) -> DataFrame:
    """Winsorized (p01/p99-clipped) price stats per return flag — the
    standard outlier-robust normalization before a model-feature sink.

    Two grouped passes over 3 groups: exact percentile bounds, then a
    broadcast join-back to clip. The bounds are ROUNDED to 4 dp before
    clipping so the clip threshold is an engine-portable double; sums
    of clipped values go through DECIMAL for order-independence."""
    bounds = lineitem.groupBy("l_returnflag").agg(
        F.round(F.percentile(F.col("l_extendedprice"), F.lit(0.01)), 4).alias("p01"),
        F.round(F.percentile(F.col("l_extendedprice"), F.lit(0.99)), 4).alias("p99"),
    )
    x = F.col("l_extendedprice")
    clipped = lineitem.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        F.least(F.greatest(x, F.col("p01")), F.col("p99")).alias("w"),
        (x < F.col("p01")).cast("int").alias("lo"),
        (x > F.col("p99")).cast("int").alias("hi"),
    )
    return clipped.groupBy("l_returnflag").agg(
        _dec_sum(F.col("w"), "sum_winsorized"),
        F.sum("lo").alias("n_clipped_low"),
        F.sum("hi").alias("n_clipped_high"),
        F.count(F.lit(1)).alias("n_items"),
    )


def mad_outliers(events: DataFrame, k: float = 4.4478) -> DataFrame:
    """Robust outlier counts per event type via Median Absolute
    Deviation: flag |v - median| > k * MAD (k = 3 * 1.4826, the normal-
    consistency constant). Medians are exact percentiles rounded to
    4 dp so the deviation arithmetic is engine-portable.

    Scale shape: two grouped aggregates over a handful of groups and a
    broadcast join-back — the group count (event types) is model-
    parameter scale, so both joins broadcast; the event scan stays
    fully parallel. At extreme cardinality you'd swap the exact
    percentile for ``approx_percentile`` (bounded-memory sketch)."""
    med = events.groupBy("event_type").agg(
        F.round(F.percentile(F.col("value"), F.lit(0.5)), 4).alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.max("med").alias("med"),
        F.round(F.percentile(F.col("adev"), F.lit(0.5)), 4).alias("mad"),
    )
    flagged = dev.drop("med").join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.max("med").alias("med"),
        F.max("mad").alias("mad"),
        F.sum((F.col("adev") > F.lit(k) * F.col("mad")).cast("int")).alias("n_outliers"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---- group-wise OLS (normal equations, Cramer's rule) ----
# The closed-form solve is pure expression text SHARED verbatim with
# the DuckDB twin (oracle.OLS2_Q interpolates these same strings), so
# the two engines evaluate byte-identical double arithmetic. nn is
# count(*) as double; s* are DECIMAL-exact sums of per-row terms
# (order-independent, so the fit is partitioning-proof).
OLS2_DET = (
    "(nn * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s12 - s11 * s2))"
)
# Divisions go through nullif(det, 0): Spark 4 runs ANSI mode (x/0.0
# raises DIVIDE_BY_ZERO) while DuckDB yields NULL — nullif makes a
# singular system produce NULL coefficients identically in both twins.
OLS2_DET_SAFE = f"nullif({OLS2_DET}, 0.0)"
OLS2_B0 = (
    "(sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)"
    " + s2 * (s1y * s12 - s11 * s2y))"
)
OLS2_B1 = (
    "(nn * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s2y - s1y * s2))"
)
OLS2_B2 = (
    "(nn * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)"
    " + sy * (s1 * s12 - s11 * s2))"
)
# trailing "+ 0.0" on every rounded output: Spark's HALF_UP round
# yields +0.0 for tiny negatives where DuckDB keeps -0.0, and the
# parity hash distinguishes the two reprs
OLS2_R2 = (
    "round(1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y)"
    " / nullif(syy - sy * sy / nn, 0.0), 6) + 0.0"
)


def ols2_sum_sql(term: str, alias: str) -> str:
    """DECIMAL-exact sum of per-row double terms — the one aggregation
    shape both engines share. The double -> DECIMAL(28,12) cast rounds
    to nearest in both Spark and DuckDB; an exact decimal midpoint at
    the 12th digit is not representable for these binary products, so
    no explicit round() is needed (it would double the per-row cost —
    a BigDecimal setScale per term). 28,12 bounds per-term magnitude
    at 1e16 (price^2 here is ~1e10) and lets the sum widen to 38,12."""
    return (
        f"CAST(sum(CAST({term} AS DECIMAL(28,12))) AS DOUBLE)"
        f" AS {alias}"
    )


def ols2(
    df: DataFrame, group: str, y: str, x1: str, x2: str
) -> DataFrame:
    """Per-group ordinary least squares with two features and an
    intercept — distributed model fitting as ONE aggregation: the
    normal-equation sufficient statistics (8 sums + count) reduce with
    map-side combine, then Cramer's rule solves the 3x3 system in
    closed form per group. No iteration, no collect, no ML library —
    the 100 TB shape for "fit a small model per segment" (group count
    rows out, regardless of input size). R^2 is derived from the same
    statistics (computed from the 6-dp-rounded coefficients, so the
    report is deterministic cross-engine). Degenerate groups
    (singular X'X, e.g. a constant feature; constant y for R^2) yield
    NULL via the nullif-guarded divisions — Spark's ANSI mode would
    otherwise raise DIVIDE_BY_ZERO where DuckDB returns NULL."""
    yd = f"CAST({y} AS DOUBLE)"
    x1d = f"CAST({x1} AS DOUBLE)"
    x2d = f"CAST({x2} AS DOUBLE)"
    stats = df.groupBy(group).agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(count(*) AS DOUBLE)").alias("nn"),
        *[
            F.expr(ols2_sum_sql(t, a))
            for t, a in [
                (x1d, "s1"),
                (x2d, "s2"),
                (f"{x1d} * {x1d}", "s11"),
                (f"{x2d} * {x2d}", "s22"),
                (f"{x1d} * {x2d}", "s12"),
                (yd, "sy"),
                (f"{x1d} * {yd}", "s1y"),
                (f"{x2d} * {yd}", "s2y"),
                (f"{yd} * {yd}", "syy"),
            ]
        ],
    )
    solved = stats.select(
        group,
        "n",
        "nn",
        "sy",
        "s1y",
        "s2y",
        "syy",
        F.expr(f"round({OLS2_B0} / {OLS2_DET_SAFE}, 6) + 0.0").alias("b0"),
        F.expr(f"round({OLS2_B1} / {OLS2_DET_SAFE}, 6) + 0.0").alias("b1"),
        F.expr(f"round({OLS2_B2} / {OLS2_DET_SAFE}, 6) + 0.0").alias("b2"),
    )
    return solved.select(
        group, "n", "b0", "b1", "b2", F.expr(OLS2_R2).alias("r2")
    )


def corr_pair_sql(i: int, j: int) -> str:
    """Pearson correlation of columns i and j from the shared
    sufficient-statistic aliases (nn, s{i}, s{i}_{i}, s{i}_{j}) —
    formula text shared verbatim with the DuckDB twin."""
    return (
        f"round((nn * s{i}_{j} - s{i} * s{j})"
        f" / nullif(sqrt(nn * s{i}_{i} - s{i} * s{i})"
        f" * sqrt(nn * s{j}_{j} - s{j} * s{j}), 0.0), 6) + 0.0"
    )


def corr_terms(cols: list[str]) -> list[tuple[str, str]]:
    """(term, alias) list for the correlation sufficient statistics:
    per column the sum and the squared sum, per pair the cross sum."""
    d = [f"CAST({c} AS DOUBLE)" for c in cols]
    out = []
    for i in range(len(cols)):
        out.append((d[i], f"s{i}"))
        out.append((f"{d[i]} * {d[i]}", f"s{i}_{i}"))
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            out.append((f"{d[i]} * {d[j]}", f"s{i}_{j}"))
    return out


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations over ``cols`` in ONE pass — the
    feature-profiling matrix before model building, as a single global
    aggregation of k(k+3)/2 DECIMAL-exact sums (map-side partials, a
    one-row merge — model-parameter scale, never a per-pair shuffle or
    a column self-join). Output is one row per unordered pair
    (col_a, col_b, corr), corr 6-dp-rounded from formula text shared
    verbatim with the oracle twin. Columns are assumed non-null
    (profile first; a null-tolerant variant would swap count(*) for
    pairwise counts)."""
    terms = corr_terms(cols)
    stats = df.agg(
        F.expr("CAST(count(*) AS DOUBLE)").alias("nn"),
        *[F.expr(ols2_sum_sql(t, a)) for t, a in terms],
    )
    pairs = [
        F.struct(
            F.lit(cols[i]).alias("col_a"),
            F.lit(cols[j]).alias("col_b"),
            F.expr(corr_pair_sql(i, j)).alias("corr"),
        )
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    return stats.select(F.explode(F.array(*pairs)).alias("p")).select("p.*")


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1998-06-15",
    top: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape — top unshipped orders by revenue for a market
    segment: orders placed before the cutoff whose items ship after
    it. The canonical 3-way join + top-n: both big joins shuffle on
    their keys with the date/segment filters PUSHED to the scans
    (customer prunes to one segment before the join; lineitem prunes
    to post-cutoff ships), and the top-n is a TakeOrdered (partial
    heaps, never a global sort).

    Returns (l_orderkey, revenue, o_orderdate, o_orderpriority),
    ordered revenue desc then key, limit ``top``; o_orderdate as the
    'YYYY-MM-DD' string (cross-engine canonical date form)."""
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    cut = F.lit(cutoff).cast("timestamp")
    return (
        customer.filter(F.col("c_mktsegment") == segment)
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cut)
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > cut)
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(_dec_sum(rev, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(top)
    )


def returned_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    top: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape — which customers return the most revenue: the
    returns-triage report every commerce warehouse runs. The
    l_returnflag filter is pushed to the lineitem scan (the big
    table shrinks before any join), the two big joins shuffle on
    their keys, nation broadcasts, and the top-n is a TakeOrdered.

    Returns (c_custkey, c_name, n_name, revenue, n_items), revenue
    desc then key, limit ``top``."""
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dec_sum(rev, "revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(top)
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
    supplier_nation: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q8 shape — a supplier nation's market share, per order
    year, of all revenue sold to one region's customers: the classic
    snowflake traversal (fact -> orders -> customer -> nation ->
    region on one side, fact -> supplier -> nation on the other).

    Scale shape: the customer-side dimension chain COLLAPSES before
    touching the fact table — nation ⋈ broadcast(region) prunes to
    one region's nations, customer semi-reduces against that tiny
    set, and only then do the two big key-shuffled joins run; the
    supplier-side flag comes from broadcast dimension joins (both
    dimension chains are catalog-sized). One final groupBy on the
    year. Share = flagged revenue / total revenue through the shared
    DECIMAL(18,6) sums.

    Returns (o_year, total_revenue, nation_revenue, mkt_share)."""
    rev = (
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    ).cast("decimal(18,6)")
    region_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == region_name)),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("_cn"))
    cust = customer.join(
        F.broadcast(region_nations),
        F.col("c_nationkey") == F.col("_cn"),
    ).select("c_custkey")
    supp_flag = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select(
        "s_suppkey",
        (F.col("n_name") == supplier_nation).alias("_is_nation"),
    )
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_flag), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(F.sum(rev).cast("double"), 4).alias("total_revenue"),
            F.round(
                F.sum(F.when(F.col("_is_nation"), rev).otherwise(F.lit(0).cast("decimal(18,6)"))).cast(
                    "double"
                ),
                4,
            ).alias("nation_revenue"),
            F.round(
                F.sum(F.when(F.col("_is_nation"), rev).otherwise(F.lit(0).cast("decimal(18,6)")))
                .cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("mkt_share"),
        )
    )


def bottleneck_suppliers(
    lineitem: DataFrame, supplier: DataFrame
) -> DataFrame:
    """TPC-H Q21-shaped "suppliers who kept orders waiting", re-keyed
    to this fixture's columns (no commit/receipt dates): a supplier is
    the BOTTLENECK of an order when the order has lines from >= 2
    distinct suppliers and every latest-shipping line (l_shipdate ==
    order max) belongs to that supplier alone — the EXISTS /
    NOT-EXISTS pair of Q21 (``batch_pipeline1.py`` has no relational
    ops; this extends the TPC-H muscle per SURVEY §2's extension
    mandate).

    Scale shape: the correlated EXISTS pair is rewritten as two
    aggregations over the fact table — per-order (max shipdate,
    supplier count) with map-side combine, then the latest-line slice
    re-aggregated per order — so the plan is groupBy+join only, no
    per-row subqueries, and every shuffle keys on l_orderkey (AQE
    handles the skewed big-order tail). The supplier join is broadcast
    (dim table).

    Returns (s_suppkey, s_name, numwait) for suppliers with >= 1
    bottlenecked order."""
    lines = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
    ostats = lines.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("_mx"),
        F.countDistinct("l_suppkey").alias("_ns"),
    )
    sole_latest = (
        lines.join(ostats, "l_orderkey")
        .filter((F.col("l_shipdate") == F.col("_mx")) & (F.col("_ns") >= 2))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("_nlate"),
            F.max("l_suppkey").alias("_supp"),
        )
        .filter(F.col("_nlate") == 1)
    )
    waits = sole_latest.groupBy("_supp").agg(
        F.count(F.lit(1)).cast("bigint").alias("numwait")
    )
    return (
        waits.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            waits["_supp"] == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "numwait")
    )


def last_touch_attribution(events: DataFrame) -> DataFrame:
    """Last-touch conversion attribution: each ``purchase`` event is
    credited to the user's most recent PRECEDING non-purchase event —
    the standard marketing/funnel report, and the as-of-join-shaped
    window primitive (LAST ignore-nulls over an unbounded-preceding
    frame) a sessionized events table answers without any self-join.

    Scale shape: one window partitioned by user (parallel at any
    scale, no shuffle beyond the partition), the attribution struct
    rides the frame so type/id/ts come from the SAME prior row, and
    the gap is exact integer microseconds (cross-engine safe).

    Returns one row per purchase: (event_id, user_id, attr_type,
    attr_event_id, gap_us) — attribution columns NULL for a user's
    purchases with no prior touch."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.last(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(
                F.col("ts").alias("ats"),
                F.col("event_id").alias("aid"),
                F.col("event_type").alias("atype"),
            ),
        ),
        ignorenulls=True,
    ).over(w)
    return (
        events.withColumn("_a", prior)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("_a.atype").alias("attr_type"),
            F.col("_a.aid").alias("attr_event_id"),
            (
                F.expr("unix_micros(ts)") - F.expr("unix_micros(_a.ats)")
            ).alias("gap_us"),
        )
    )


# ------------------------- round 8b: TPC-H shape completion


def late_priority_orders(
    orders: DataFrame,
    lineitem: DataFrame,
    start: str = "1997-01-01",
    end: str = "1997-04-01",
    late_days: int = 90,
) -> DataFrame:
    """TPC-H Q4 shape — order-priority checking, re-keyed to this
    fixture (no commit/receipt dates): count orders per priority, in a
    quarter, that had at least one line shipping more than
    ``late_days`` after the order date.

    Scale shape: the quarter filter is PUSHED to the orders scan (the
    probe side shrinks ~25x before any join), the EXISTS becomes one
    LEFT SEMI hash join on l_orderkey with the lateness predicate as
    the join residual (no per-row subquery, no dedup pass — semi join
    short-circuits on first match), and the final groupBy is over 5
    priority values with map-side combine.

    Returns (o_orderpriority, order_count) ordered by priority."""
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(end).cast("timestamp"))
    )
    late = o.join(
        lineitem.select("l_orderkey", "l_shipdate"),
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
        ),
        "leftsemi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def cust_order_dist(
    customer: DataFrame,
    orders: DataFrame,
    exclude_priority: str = "4-NOT SPECIFIED",
) -> DataFrame:
    """TPC-H Q13 shape — customer order-count distribution: how many
    customers placed exactly N qualifying orders (the excluded
    priority playing Q13's not-like-comment role), INCLUDING the
    zero-order bucket via the left outer join.

    Scale shape: the priority filter pushes to the orders scan, the
    left join shuffles both sides on custkey once (count(o_orderkey)
    counts matches only, so zero-order customers survive as c_count
    0), and the second groupBy is on the tiny distinct-count domain.

    Returns (c_count, custdist) ordered custdist desc, c_count
    desc."""
    o = orders.filter(F.col("o_orderpriority") != exclude_priority).select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        customer.select("c_custkey")
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def promo_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    start: str = "1997-06-01",
    end: str = "1997-07-01",
    promo_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q14 shape — promotion effect: the share of one ship
    month's revenue coming from promo-typed parts.

    Scale shape: the month filter pushes to the lineitem scan, part is
    a broadcast dimension join (no fact shuffle at all — the plan is
    scan -> broadcast join -> single partial+final agg), and both sums
    share one DECIMAL(18,6) accumulator pass.

    Returns one row (promo_revenue, total_revenue, promo_pct)."""
    rev = (
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    ).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    l = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
    )
    return (
        l.join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == promo_type, rev).otherwise(zero))
                .cast("double"),
                4,
            ).alias("promo_revenue"),
            F.round(F.sum(rev).cast("double"), 4).alias("total_revenue"),
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == promo_type, rev).otherwise(zero))
                .cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_pct"),
        )
    )


def small_qty_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#4",
    ptype: str = "SMALL",
    frac: str = "0.5",
) -> DataFrame:
    """TPC-H Q17 shape — small-quantity-order revenue: average yearly
    revenue lost if orders below ``frac`` of a part's mean quantity
    were not filled, for one brand/type slice.

    Scale shape: the brand/type slice collapses part to a broadcast-
    sized dimension BEFORE the fact table is touched (semi-reduction),
    the per-part mean is one shuffle keyed on l_partkey over the
    already-reduced fact, and the correlated scalar subquery of the
    textbook Q17 becomes a self-free aggregate+rejoin (the mean table
    is per-sliced-part, so it broadcasts). ``frac`` rides as a string
    literal cast to DOUBLE so both engines compare the same double.

    Returns one row (avg_yearly)."""
    p = part.filter(
        (F.col("p_brand") == brand) & (F.col("p_type") == ptype)
    ).select("p_partkey")
    l = lineitem.join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    means = l.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (
            F.lit(frac).cast("double")
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("_cut")
    )
    return (
        l.join(F.broadcast(means), F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_cut"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / F.lit(7.0),
                4,
            ).alias("avg_yearly")
        )
    )


def large_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    qty_threshold: float = 300.0,
    top: int = 100,
) -> DataFrame:
    """TPC-H Q18 shape — large-volume orders: the orders whose total
    line quantity exceeds the threshold, with their customers.

    Scale shape: the HAVING-IN-subquery of the textbook Q18 is one
    per-order aggregate over lineitem (map-side combine on
    l_orderkey) filtered BEFORE joining — the fact table joins orders
    only for the surviving handful of keys (the aggregate output after
    the 99.9th-percentile threshold is tiny, so it broadcasts into the
    orders join), then customer joins on the shrunken result. Top-n is
    a TakeOrdered.

    Returns (c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
    sum_qty), totalprice desc then orderkey, limit ``top``."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_qty")
        )
        .filter(F.col("sum_qty") > qty_threshold)
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").cast("string").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(top)
    )


def idle_customers(
    customer: DataFrame,
    orders: DataFrame,
    since: str = "2000-01-01",
) -> DataFrame:
    """TPC-H Q22 shape — global sales opportunity, re-keyed to this
    fixture (every customer has SOME order, so 'never ordered'
    becomes 'no order since ``since``'): count and total balance of
    above-average-balance customers gone idle, per nation.

    Scale shape: the scalar AVG subquery is ONE aggregate collapsed to
    a single double — model-parameter scale, pulled at build time and
    inlined as a literal (the centroid-pull pattern; a cross-joined
    1-row frame would plan as a BroadcastNestedLoopJoin for no
    benefit). The NOT EXISTS is a LEFT ANTI hash join against the
    date-pruned orders scan, and the final groupBy is on the 25-value
    nation domain. Float parity: the literal carries Spark's own
    decimal-sum/count double, bit-identical to the oracle's.

    Returns (c_nationkey, numcust, totacctbal) ordered by nation."""
    avg_row = (
        customer.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("_avg")
        )
        .first()
    )
    avg_bal = float(avg_row["_avg"]) if avg_row["_avg"] is not None else 0.0
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(since).cast("timestamp")
    ).select("o_custkey")
    return (
        customer.filter(F.col("c_acctbal") > F.lit(avg_bal))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "leftanti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            _dec_sum(F.col("c_acctbal"), "totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def discounted_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape — discounted revenue from three disjunctive
    brand/size/quantity baskets (the OR-of-ANDs predicate).

    Scale shape: part is a broadcast dimension join; the disjunction
    stays ONE residual predicate on the joined row (no union of three
    scans — Catalyst evaluates the OR once per row inside whole-stage
    codegen), and the quantity bounds that appear in EVERY branch
    (l_quantity between 1 and 30 across the union of branches) would
    be pushable as a covering conjunct at larger branch skew.

    Returns one row (revenue, n_lines)."""
    rev = (
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    ).cast("decimal(18,6)")
    q, s = F.col("l_quantity"), F.col("p_size")
    basket = (
        (
            (F.col("p_brand") == "Brand#2")
            & q.between(1.0, 11.0)
            & s.between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & q.between(10.0, 20.0)
            & s.between(1, 25)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & q.between(20.0, 30.0)
            & s.between(1, 50)
        )
    )
    return (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(basket)
        .agg(
            F.round(F.sum(rev).cast("double"), 4).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


def skyline_parts(part: DataFrame) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts: minimize
    ``p_retailprice``, maximize ``p_size`` — no other part is both
    cheaper-or-equal AND bigger-or-equal with one strict.

    Scale shape: the naive skyline is an O(n^2) NOT-EXISTS self-join
    (the oracle twin keeps that formulation as an independent
    cross-check); this plans it as
      1. a per-price groupBy keeping max size — the only same-price
         survivor candidate (one parallel shuffle on price);
      2. a ``repartitionByRange`` of that distinct-price spine + a
         PER-PARTITION running-max window (parallel), with the
         cross-partition prefix coming from per-partition maxima —
         <= #partitions ints pulled to the driver and re-broadcast as
         a literal map (the acctbal_deciles distributed-rank pattern:
         no ``Window.orderBy`` single-reducer funnel);
      3. an equi-join of the spine verdicts back to the parts (AQE
         broadcasts the spine when it is small; at catalog scale it
         key-shuffles like any dim-dim join).
    A part survives iff no strictly cheaper price achieved >= its
    size AND it is its own price's max size. Ties (equal price AND
    equal size) are both kept, per standard skyline semantics.

    Returns (p_partkey, p_retailprice, p_size) ordered by price then
    key."""
    spark = part.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    spine = part.groupBy(F.col("p_retailprice").alias("_price")).agg(
        F.max("p_size").alias("_msize")
    )
    ranged = spine.repartitionByRange(
        shuffle_n, F.col("_price").asc()
    ).withColumn("_pid", F.spark_partition_id())
    pmax = ranged.groupBy("_pid").agg(F.max("_msize").alias("_m")).collect()
    best, prefix = None, {}
    for r in sorted(pmax, key=lambda r: r["_pid"]):
        prefix[r["_pid"]] = best  # max size over all STRICTLY earlier partitions
        best = r["_m"] if best is None else max(best, r["_m"])
    pids = sorted(prefix)
    prefix_map = F.map_from_arrays(
        F.array(*[F.lit(p) for p in pids]),
        F.array(
            *[
                F.lit(prefix[p]).cast("int")
                for p in pids
            ]
        ),
    )
    w = Window.partitionBy("_pid").orderBy("_price").rowsBetween(
        Window.unboundedPreceding, -1
    )
    verdict = ranged.withColumn(
        "_best_cheaper",
        F.greatest(
            F.coalesce(F.max("_msize").over(w), F.lit(None).cast("int")),
            prefix_map[F.col("_pid")],
        ),
    )
    return (
        part.join(verdict, F.col("p_retailprice") == F.col("_price"))
        .filter(
            (F.col("p_size") == F.col("_msize"))
            & (
                F.col("_best_cheaper").isNull()
                | (F.col("_best_cheaper") < F.col("p_size"))
            )
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


# ------------------------------------------------------ market basket

# Association-metric formula text shared verbatim with the DuckDB twin
# (oracle.MARKET_BASKET_Q interpolates the same strings): every factor
# is CAST to DOUBLE first so both engines run identical IEEE-754
# operation trees on exact integer counts — bit-identical results.
BASKET_SUPPORT = (
    "round(CAST(pair_n AS DOUBLE) / CAST({n} AS DOUBLE), 6)"
)
BASKET_CONFIDENCE = (
    "round(CAST(pair_n AS DOUBLE) / CAST(cnt_a AS DOUBLE), 6)"
)
BASKET_LIFT = (
    "round(CAST(pair_n AS DOUBLE) * CAST({n} AS DOUBLE)"
    " / (CAST(cnt_a AS DOUBLE) * CAST(cnt_b AS DOUBLE)), 6)"
)


def market_basket(
    lineitem: DataFrame,
    min_pair_orders: int = 2,
    top: int = 50,
    max_basket: int = 64,
) -> DataFrame:
    """Market-basket association mining over order lines: which part
    pairs co-occur in the same order more than chance predicts
    (support / confidence / lift) — the co-purchase signal behind
    recommendations and assortment planning, and structurally the
    same within-group co-occurrence shape as bigram PMI on tokens.

    Scale shape (100 TB): the pair generator is a SELF-JOIN
    CO-PARTITIONED ON THE ORDER KEY — Spark shuffles both sides once
    on ``okey`` and every pair is produced inside one partition; the
    fan-out per order is bounded by the ``max_basket`` guard
    (baskets with more than ``max_basket`` distinct parts are dropped
    whole, capping worst-case blast radius at max_basket^2/2 rows per
    order — a pathological "basket" that big is a data bug, not a
    co-purchase signal). Item frequencies join back on part-key
    equi-joins (map-side combinable degree tables, the
    ``join_hotspots`` shape), the ≥min_pair_orders HAVING prunes the
    long tail before the metric join, and the final top-k is a
    TakeOrdered, never a global sort. The single driver pull is ONE
    scalar (the retained-order count — the documented idle_customers
    literal pattern).

    Returns (part_a, part_b, pair_n, support, confidence, lift,
    cnt_a, cnt_b), lift desc / part_a / part_b, limit ``top``."""
    items = lineitem.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    sized = items.groupBy("okey").agg(
        F.count(F.lit(1)).alias("basket_n")
    )
    kept = items.join(
        sized.filter(F.col("basket_n") <= max_basket).select("okey"), "okey"
    )
    n_row = kept.agg(F.count_distinct("okey").alias("_n")).first()
    n_orders = int(n_row["_n"] or 0)
    cnt = kept.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    pairs = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .groupBy(
            F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_n"))
        .filter(F.col("pair_n") >= min_pair_orders)
    )
    scored = (
        pairs.join(
            cnt.select(F.col("part").alias("part_a"), F.col("cnt").alias("cnt_a")),
            "part_a",
        )
        .join(
            cnt.select(F.col("part").alias("part_b"), F.col("cnt").alias("cnt_b")),
            "part_b",
        )
        .select(
            "part_a",
            "part_b",
            "pair_n",
            F.expr(BASKET_SUPPORT.format(n=n_orders)).alias("support"),
            F.expr(BASKET_CONFIDENCE).alias("confidence"),
            F.expr(BASKET_LIFT.format(n=n_orders)).alias("lift"),
            "cnt_a",
            "cnt_b",
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(top)


def position_attribution(events: DataFrame) -> DataFrame:
    """POSITION-BASED (U-shaped, 40/20/40) multi-touch attribution:
    for each user's FIRST purchase, every preceding view/click touch
    gets credit — first touch 0.4, last touch 0.4, middles split the
    remaining 0.2 equally (one touch → 1.0, two → 0.5 each) — the
    standard middle ground between ``last_touch_attribution``'s
    winner-takes-all and linear attribution, reported as total credit
    per touch type.

    Float parity: each touch's credit is ONE shared double expression
    on integer rank/count (0.2 / (k − 2) is the only data-dependent
    division), routed through DECIMAL(28,12) before the per-type sum
    (order-free, the CHI2_SUM pattern).

    Scale shape: first-purchase per user is one map-side-combined
    groupBy; touches join back on the user key (co-partitioned); rank
    and touch-count are one user-partitioned window pass — parallel by
    user at any scale, no global structure.

    Returns (event_type, n_touches, total_credit), credit 6 dp."""
    from pyspark.sql import Window

    conv = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.expr("unix_micros(ts)")).alias("t_conv"))
    )
    touches = (
        events.filter(F.col("event_type").isin("view", "click"))
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.expr("unix_micros(ts)").alias("t"),
        )
        .join(conv, "user_id")
        .filter(F.col("t") < F.col("t_conv"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("t").asc(), F.col("event_id").asc()
    )
    wall = Window.partitionBy("user_id")
    ranked = touches.select(
        "event_type",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("k"),
    )
    k = F.col("k").cast("double")
    credit = (
        F.when(F.col("k") == 1, F.lit(1.0))
        .when(F.col("k") == 2, F.lit(0.5))
        .when(F.col("rk") == 1, F.lit(0.4))
        .when(F.col("rk") == F.col("k"), F.lit(0.4))
        .otherwise(F.lit(0.2) / (k - F.lit(2.0)))
    )
    return (
        ranked.select(
            "event_type", credit.cast("decimal(28,12)").alias("c")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.round(F.sum("c").cast("double"), 6).alias("total_credit"),
        )
        .orderBy("event_type")
    )


def cheapest_supplier(lineitem: DataFrame) -> DataFrame:
    """Minimum-cost supplier per part — the TPC-H Q2 pattern
    (correlated MIN subquery) expressed Spark-first as ONE window over
    the per-(part, supplier) aggregate: unit price from DECIMAL-exact
    price/quantity sums (order-independent, so the double ratio is
    bit-identical cross-engine), then row_number per part on the
    (unit_price, suppkey) total order. The aggregate is one map-side-
    combined groupBy; the window partitions by part — parallel by key,
    never a global sort.

    Returns (l_partkey, l_suppkey, unit_price, n_lines) — unit_price
    the RAW double ratio (both engines compute the identical two exact
    DECIMAL sums and one IEEE division, so the bits match; rounding it
    would re-introduce the half-way round()-convention divergence),
    one row per part."""
    ps = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                "double"
            )
            / F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
        ).alias("unit_price"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc("unit_price"), F.asc("l_suppkey")
    )
    return (
        ps.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", "l_suppkey", "unit_price", "n_lines")
    )


def top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape (top supplier): per-supplier revenue over one
    quarter, keep the supplier(s) whose revenue EQUALS the maximum —
    the classic view+max formulation, here with the max entering as
    an uncorrelated scalar subquery over the persisted per-supplier
    aggregate (never a 1-row crossJoin/NLJ, never a global sort).

    Scale shape: the date predicate pushes into the parquet scan
    (PushedFilters), ONE map-side-combined groupBy collapses the fact
    table to |suppliers| rows (persisted — the max subquery and the
    filter read the same cache, not two fact scans), and the supplier
    dim joins broadcast. Revenue is exact DECIMAL end-to-end; one
    terminal cast for the report.

    Returns (s_suppkey, s_name, total_revenue) for the argmax
    supplier(s), revenue 4 dp."""
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("rev")
        )
    )
    # pinned for end-of-query release: the max pull and the returned
    # argmax filter are two jobs over the same aggregate (r13 ADVICE)
    from ..session import pin_for_query

    rev = pin_for_query(rev)
    mx = rev.agg(F.max("rev").alias("m")).scalar()
    return (
        rev.filter(F.col("rev") == mx)
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            rev["l_suppkey"] == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev").cast("double"), 4).alias("total_revenue"),
        )
    )


def nation_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue between every
    ORDERED pair of distinct (supplier nation, customer nation) per
    ship year — the cross-border trade matrix.

    Scale shape: the ship-date predicate pushes into the fact scan;
    the fact⋈orders join shuffles on the order key (the one big-big
    join — co-partition/bucket at production scale), customer joins
    on its key, and the nation dims broadcast twice under distinct
    aliases. Revenue is exact DECIMAL until one terminal cast.

    Returns (supp_nation, cust_nation, l_year, revenue) with
    supp_nation != cust_nation, revenue 4 dp."""
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
    ).select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").cast("int").alias("l_year"),
        (
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        ).cast("decimal(18,6)").alias("vol"),
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li["l_orderkey"] == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(F.sum("vol").cast("double"), 4).alias("revenue")
        )
    )
