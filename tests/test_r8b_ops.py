"""Round-8b operators: the TPC-H shape completion (Q4, Q13, Q14, Q17,
Q18, Q19, Q22 re-keyed to this fixture) and the distributed skyline.
Value parity is the oracle gate's job; these pin the SEMANTIC
properties a hash match can't express — conservation laws (partition
sums equal whole sums), boundary behaviour at thresholds, and a
brute-force dominance cross-check for the skyline's prefix-max
construction."""

from __future__ import annotations

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import relational
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR


def test_order_priority_counts_qualifying_orders_exactly(spark):
    orders = tables.load(spark, SF_DIR, "orders")
    lineitem = tables.load(spark, SF_DIR, "lineitem")
    out = relational.late_priority_orders(orders, lineitem).collect()
    # independent recompute: distinct late orders in the window
    direct = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("o_orderkey")
        .distinct()
        .count()
    )
    assert sum(r.order_count for r in out) == direct
    # ordered by priority, no duplicates
    ps = [r.o_orderpriority for r in out]
    assert ps == sorted(ps) and len(set(ps)) == len(ps)


def test_cust_order_dist_conserves_customers_and_orders(spark):
    customer = tables.load(spark, SF_DIR, "customer")
    orders = tables.load(spark, SF_DIR, "orders")
    out = relational.cust_order_dist(customer, orders).collect()
    assert sum(r.custdist for r in out) == customer.count()
    qualifying = orders.filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).count()
    assert sum(r.c_count * r.custdist for r in out) == qualifying


def test_promo_revenue_partitions_total(spark):
    lineitem = tables.load(spark, SF_DIR, "lineitem")
    part = tables.load(spark, SF_DIR, "part")
    r = relational.promo_revenue(lineitem, part).first()
    assert 0.0 <= r.promo_pct <= 100.0
    assert r.promo_revenue <= r.total_revenue
    # non-promo remainder recomputed independently closes the sum
    nonpromo = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("p_type") != "PROMO")
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
                    ).cast("decimal(18,6)")
                ).cast("double"),
                4,
            ).alias("v")
        )
        .first()
        .v
    )
    assert abs((r.promo_revenue + nonpromo) - r.total_revenue) < 1e-6


def test_small_qty_revenue_matches_window_formulation(spark):
    lineitem = tables.load(spark, SF_DIR, "lineitem")
    part = tables.load(spark, SF_DIR, "part")
    got = relational.small_qty_revenue(lineitem, part).first().avg_yearly
    # independent formulation: decorrelate via a window instead of the
    # aggregate + broadcast rejoin
    from pyspark.sql import Window

    sliced = lineitem.join(
        F.broadcast(
            part.filter(
                (F.col("p_brand") == "Brand#4") & (F.col("p_type") == "SMALL")
            ).select("p_partkey")
        ),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    w = Window.partitionBy("l_partkey")
    cut = F.lit("0.5").cast("double") * (
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    want = (
        sliced.withColumn("_cut", cut)
        .filter(F.col("l_quantity") < F.col("_cut"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.lit(7.0),
                4,
            ).alias("v")
        )
        .first()
        .v
    )
    assert got == want


def test_large_orders_threshold_is_tight(spark):
    customer = tables.load(spark, SF_DIR, "customer")
    orders = tables.load(spark, SF_DIR, "orders")
    lineitem = tables.load(spark, SF_DIR, "lineitem")
    out = relational.large_orders(
        customer, orders, lineitem, qty_threshold=50.0, top=1000
    ).collect()
    assert all(r.sum_qty > 50.0 for r in out)
    # count matches the direct HAVING recompute (every big order has
    # exactly one orders/customer row in this star schema)
    direct = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 50.0)
        .count()
    )
    assert len(out) == min(direct, 1000)
    prices = [r.o_totalprice for r in out]
    assert prices == sorted(prices, reverse=True)


def test_idle_customers_matches_direct_recompute(spark):
    customer = tables.load(spark, SF_DIR, "customer")
    orders = tables.load(spark, SF_DIR, "orders")
    out = relational.idle_customers(customer, orders, since="2000-01-01")
    total = out.agg(F.sum("numcust")).first()[0] or 0
    pos = customer.filter(F.col("c_acctbal") > 0.0)
    avg = (
        pos.agg(
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).first()[0]
    )
    direct = (
        customer.filter(F.col("c_acctbal") > avg)
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
            ).select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "leftanti",
        )
        .count()
    )
    assert total == direct


def test_discounted_revenue_is_sum_of_disjoint_brand_baskets(spark):
    lineitem = tables.load(spark, SF_DIR, "lineitem")
    part = tables.load(spark, SF_DIR, "part")
    whole = relational.discounted_revenue(lineitem, part).first()
    # the three baskets name distinct brands, so per-brand recomputes
    # must partition the result exactly
    per = []
    for brand, qlo, qhi, shi in [
        ("Brand#2", 1.0, 11.0, 15),
        ("Brand#4", 10.0, 20.0, 25),
        ("Brand#19", 20.0, 30.0, 50),
    ]:
        r = (
            lineitem.join(
                F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
            )
            .filter(
                (F.col("p_brand") == brand)
                & F.col("l_quantity").between(qlo, qhi)
                & F.col("p_size").between(1, shi)
            )
            .agg(
                F.sum(
                    (
                        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
                    ).cast("decimal(18,6)")
                ).alias("v"),
                F.count(F.lit(1)).alias("n"),
            )
            .first()
        )
        per.append(r)
    assert whole.n_lines == sum(r.n for r in per)
    assert abs(whole.revenue - round(float(sum(r.v for r in per if r.v)), 4)) < 1e-6


def test_skyline_matches_bruteforce_dominance(spark):
    part = tables.load(spark, SF_DIR, "part")
    got = {
        (r.p_partkey, r.p_retailprice, r.p_size)
        for r in relational.skyline_parts(part).collect()
    }
    rows = part.select("p_partkey", "p_retailprice", "p_size").collect()
    want = set()
    for a in rows:
        dominated = any(
            b.p_retailprice <= a.p_retailprice
            and b.p_size >= a.p_size
            and (b.p_retailprice < a.p_retailprice or b.p_size > a.p_size)
            for b in rows
        )
        if not dominated:
            want.add((a.p_partkey, a.p_retailprice, a.p_size))
    assert got == want and got


def test_skyline_keeps_equal_price_equal_size_ties(spark):
    df = spark.createDataFrame(
        [
            (1, 10.0, 5),
            (2, 10.0, 5),  # exact tie with 1: both stay
            (3, 10.0, 4),  # same price, smaller: dominated
            (4, 9.0, 5),  # cheaper, same size: dominates 1/2? yes (price strict)
            (5, 12.0, 9),
            (6, 11.0, 9),  # cheaper than 5 at same size: 5 out
        ],
        "p_partkey long, p_retailprice double, p_size int",
    )
    got = {r.p_partkey for r in relational.skyline_parts(df).collect()}
    assert got == {4, 6}
    # and with the tie NOT dominated by a cheaper row, both twins stay
    df2 = spark.createDataFrame(
        [(1, 10.0, 5), (2, 10.0, 5), (3, 11.0, 4)],
        "p_partkey long, p_retailprice double, p_size int",
    )
    got2 = {r.p_partkey for r in relational.skyline_parts(df2).collect()}
    assert got2 == {1, 2}


def test_sq_topk_partition_invariant_and_error_bounded(spark):
    from banking_data_etl_pipeline_spark.operators import similarity

    emb = tables.load(spark, SF_DIR, "embeddings")
    qs = similarity.corpus_queries(emb, n=3)
    a = sorted(
        tuple(r) for r in similarity.sq_topk(emb, qs, k=5).collect()
    )
    b = sorted(
        tuple(r)
        for r in similarity.sq_topk(emb.repartition(7), qs, k=5).collect()
    )
    assert a == b and len(a) == 15
    # 8-bit quantization keeps approx cosine near the exact value
    for (_q, _v, approx, exact, _rank) in a:
        assert abs(approx - exact) < 0.05


def test_sq_train_stats_bound_the_corpus(spark):
    from banking_data_etl_pipeline_spark.operators import similarity

    emb = tables.load(spark, SF_DIR, "embeddings")
    lo, step = similarity.sq_train_stats(emb)
    assert len(lo) == len(step) == 64
    assert all(s >= 0.0 for s in step)
    row = emb.first()
    for i, x in enumerate(row.embedding):
        assert lo[i] <= float(x) <= lo[i] + 255.0 * step[i] + 1e-9


def test_ewma_anomaly_known_values_and_invariance(spark):
    from banking_data_etl_pipeline_spark.operators import timeseries

    rows = [(i, 1, f"2024-01-01 00:0{i}:00", "view", float(i)) for i in range(1, 6)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r.event_id: (r.pred, r.abs_dev)
        for r in timeseries.ewma_anomaly(ev, min_hist=4, top=10).collect()
    }
    # only event 5 has >= 4 prior values; weights 1/2,1/4,1/8,1/16 on
    # newest-first history [4,3,2,1]
    pred = (4 / 2 + 3 / 4 + 2 / 8 + 1 / 16) / (15 / 16)
    assert set(out) == {5}
    assert abs(out[5][0] - round(pred, 6)) < 1e-9
    assert abs(out[5][1] - round(abs(5.0 - pred), 6)) < 1e-9

    events = tables.load(spark, SF_DIR, "events")
    a = sorted(tuple(r) for r in timeseries.ewma_anomaly(events).collect())
    b = sorted(
        tuple(r)
        for r in timeseries.ewma_anomaly(events.repartition(7)).collect()
    )
    assert a == b and len(a) == 100
    # prediction is a convex combination of history: deviation can
    # never exceed the corpus value range
    vals = events.agg(F.min("value"), F.max("value")).first()
    rng = vals[1] - vals[0]
    assert all(r[4] <= rng + 1e-6 for r in a)


def test_rake_scores_known_corpus(spark):
    from banking_data_etl_pipeline_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog")],
        "doc_id long, text string",
    )
    out = {r.phrase: (r.score, r.rank) for r in C.rake_keywords(docs).collect()}
    # phrases: 'quick brown fox' (3 words, each degree 3 freq 1 ->
    # score 9), 'lazy dog' (2 words, each degree 2 -> score 4)
    assert out == {"quick brown fox": (9.0, 1), "lazy dog": (4.0, 2)}


def test_rake_ranks_are_dense_and_descending(spark):
    from banking_data_etl_pipeline_spark.operators import corpus as C

    docs = tables.load(spark, SF_DIR, "documents")
    out = C.rake_keywords(docs).collect()
    per = {}
    for r in out:
        per.setdefault(r.doc_id, []).append((r.rank, r.score, r.phrase))
    for doc_id, lst in per.items():
        lst.sort()
        assert [r for r, _s, _p in lst] == list(range(1, len(lst) + 1))
        scores = [s for _r, s, _p in lst]
        assert scores == sorted(scores, reverse=True)


def test_join_hotspots_contributions_equal_real_join_size(spark):
    from banking_data_etl_pipeline_spark.operators import skew

    events = tables.load(spark, SF_DIR, "events")
    orders = tables.load(spark, SF_DIR, "orders")
    out = skew.join_hotspots(
        events, orders, "user_id", "o_custkey", top=100000
    ).collect()
    actual = events.join(
        orders, F.col("user_id") == F.col("o_custkey")
    ).count()
    assert sum(r.out_rows for r in out) == actual
    for r in out:
        assert r.out_rows == r.rows_a * r.rows_b
    shares = [r.share for r in out]
    assert abs(sum(shares) - 1.0) < 1e-3
    sizes = [r.out_rows for r in out]
    assert sizes == sorted(sizes, reverse=True)


def test_media_near_dup_pairs_share_a_band_and_order(spark):
    from banking_data_etl_pipeline_spark.multimodal import binaryops as B

    docs = tables.load(spark, SF_DIR, "documents")
    hashes = B.block_mean_hash(B.synthesize_media(docs))
    ph = {r.media_id: (r.kind, r.phash) for r in hashes.collect()}
    out = B.phash_near_dup(hashes).collect()
    assert out
    hams = [r.hamming for r in out]
    assert hams == sorted(hams)
    for r in out:
        ka, ha = ph[r.id_a]
        kb, hb = ph[r.id_b]
        assert ka == kb == r.kind and r.id_a < r.id_b
        # exact hamming recomputed
        assert r.hamming == sum(1 for x, y in zip(ha, hb) if x != y)
        # at least one shared 4-bit band (the candidate condition)
        assert any(
            ha[i * 4 : (i + 1) * 4] == hb[i * 4 : (i + 1) * 4]
            for i in range(4)
        )


def test_stream_ewma_equals_batch(spark):
    from banking_data_etl_pipeline_spark.operators import timeseries
    from banking_data_etl_pipeline_spark.queries import _stream_src_dir
    from banking_data_etl_pipeline_spark.streaming import events as EV

    d = _stream_src_dir(SF_DIR, "events")
    got = sorted(
        tuple(r)
        for r in EV.ewma_stream(spark, d).collect()
    )
    want = sorted(
        tuple(r)
        for r in timeseries.ewma_anomaly(
            tables.load(spark, SF_DIR, "events")
        ).collect()
    )
    assert got == want and len(got) == 100


def test_stream_ewma_rescored_by_late_event(spark, tmp_path):
    """A late-arriving event with an EARLIER event time must re-score
    the events after it — the stateful recomputation argument."""
    import pandas as pd

    from banking_data_etl_pipeline_spark.streaming import events as EV

    d = tmp_path / "feed"
    d.mkdir()
    base = pd.to_datetime("2024-01-01 09:00:00")
    # batch 1: values 1,2,3,4 then the scored event 6 (value 100)
    pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 6],
            "ts": [base + pd.Timedelta(minutes=m) for m in (0, 1, 2, 3, 5)],
            "user_id": [1] * 5,
            "event_type": ["view"] * 5,
            "value": [1.0, 2.0, 3.0, 4.0, 100.0],
            "props": ["{}"] * 5,
        }
    ).to_parquet(d / "a.parquet", coerce_timestamps="us")
    got1 = {
        r.event_id: r.pred
        for r in EV.ewma_stream(
            spark, str(d), min_hist=4
        ).collect()
    }
    # batch 2: event 5 slots in BETWEEN (value 50) — event 6's
    # history changes from [1,2,3,4] to [1,2,3,4,50]
    pd.DataFrame(
        {
            "event_id": [5],
            "ts": [base + pd.Timedelta(minutes=4)],
            "user_id": [1],
            "event_type": ["view"],
            "value": [50.0],
            "props": ["{}"],
        }
    ).to_parquet(d / "b.parquet", coerce_timestamps="us")
    got2 = {
        r.event_id: r.pred
        for r in EV.ewma_stream(
            spark, str(d), min_hist=4, max_files_per_trigger=1
        ).collect()
    }
    pred_before = (4 / 2 + 3 / 4 + 2 / 8 + 1 / 16) / (15 / 16)
    pred_after = (50 / 2 + 4 / 4 + 3 / 8 + 2 / 16 + 1 / 32) / (31 / 32)
    assert abs(got1[6] - round(pred_before, 6)) < 1e-9
    assert abs(got2[6] - round(pred_after, 6)) < 1e-9
    assert 5 in got2  # the late event itself gets scored too


def test_grouped_hll_tracks_exact_per_group(spark):
    from banking_data_etl_pipeline_spark.operators import sketches

    events = tables.load(spark, SF_DIR, "events")
    out = sketches.grouped_hll_distinct(events).collect()
    types = {
        r.event_type
        for r in events.select("event_type").distinct().collect()
    }
    assert {r.event_type for r in out} == types
    for r in out:
        # HLL at p=8 has ~6.5% std error; 25% is a safe determinism-
        # friendly bound on this fixture
        assert r.rel_error < 0.25
        assert 0 < r.n_used <= r.m


def test_grouped_hll_registers_merge_with_union(spark):
    """The sketch property that matters at scale: registers built from
    a partitioned union equal registers built from the whole — the
    grouped estimate is identical however the data arrives."""
    from banking_data_etl_pipeline_spark.operators import sketches

    events = tables.load(spark, SF_DIR, "events")
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    whole = sorted(
        (r.event_type, r.estimate)
        for r in sketches.grouped_hll_distinct(events).collect()
    )
    unioned = sorted(
        (r.event_type, r.estimate)
        for r in sketches.grouped_hll_distinct(a.unionAll(b)).collect()
    )
    assert whole == unioned
