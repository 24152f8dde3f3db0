"""Events operators: batch/stream parity, sessionization invariants."""

from __future__ import annotations

import pytest

import os
import tempfile

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.sources import tables
from banking_data_etl_pipeline_spark.streaming import events as EV

from conftest import SF_DIR


def test_stream_equals_batch_window_agg(spark):
    ev = tables.load(spark, SF_DIR, "events")
    batch = {
        (r.window_start_epoch, r.event_type): (r.n_events, r.sum_value)
        for r in EV.windowed_agg_batch(ev).collect()
    }
    d = tempfile.mkdtemp(prefix="test_stream_events_")
    os.symlink(os.path.join(SF_DIR, "events.parquet"), os.path.join(d, "events.parquet"))
    stream = {
        (r.window_start_epoch, r.event_type): (r.n_events, r.sum_value)
        for r in EV.drain(EV.windowed_agg_stream(spark, d), "complete").collect()
    }
    assert batch == stream
    assert len(batch) > 0


def test_sessionize_invariants(spark):
    ev = tables.load(spark, SF_DIR, "events")
    total = ev.count()
    sess = EV.sessionize_batch(ev).collect()
    # every event lands in exactly one session
    assert sum(r.n_events for r in sess) == total
    # sessions are ordered, non-overlapping per user, gaps > 30 min
    by_user: dict = {}
    for r in sess:
        by_user.setdefault(r.user_id, []).append(r)
    for _user, rows in by_user.items():
        rows.sort(key=lambda r: r.session_seq)
        for a, b in zip(rows, rows[1:]):
            assert a.session_end_epoch <= b.session_start_epoch
            assert b.session_start_epoch - a.session_end_epoch >= 1800 - 1
        for r in rows:
            assert r.session_start_epoch <= r.session_end_epoch


def test_append_sessionize_emits_exactly_closed_sessions(spark):
    # append + watermark: a session emits iff the final watermark
    # passed its end + gap; emitted sessions must match the batch twin
    # exactly, and the open trailing sessions are the only omissions
    ev = tables.load(spark, SF_DIR, "events")
    batch = {
        (r.user_id, r.session_seq): (r.n_events, r.session_start_epoch, r.session_end_epoch)
        for r in EV.sessionize_batch(ev).collect()
    }
    d = tempfile.mkdtemp(prefix="test_stream_sess_")
    os.symlink(os.path.join(SF_DIR, "events.parquet"), os.path.join(d, "events.parquet"))
    got = {
        (r.user_id, r.session_seq): (r.n_events, r.session_start_epoch, r.session_end_epoch)
        for r in EV.stream_sessionize_append(spark, d).collect()
    }
    assert len(got) > 0
    # emitted ⊆ batch, value-exact
    for k, v in got.items():
        assert batch[k] == v, k
    # every session strictly older than the final watermark emitted;
    # 2s slack on the boundary (watermark is ms-truncated internally)
    max_epoch = ev.agg(F.expr("unix_micros(max(ts)) DIV 1000000")).first()[0]
    cutoff = max_epoch - 60 - 30 * 60  # watermark delay + session gap
    must_emit = {k for k, v in batch.items() if v[2] < cutoff - 2}
    assert must_emit <= set(got)
    # trailing open sessions are the only thing withheld
    withheld = set(batch) - set(got)
    assert all(batch[k][2] >= cutoff - 2 for k in withheld)


def test_no_exact_gap_boundaries(spark):
    # session_window splits on gap >= 30min (exclusive window end), the
    # batch twin on gap > 30min: parity relies on no user having two
    # consecutive events EXACTLY 1800.000000s apart — assert that here
    # so a future testdata regen that violates it fails loudly
    from pyspark.sql import Window

    ev = tables.load(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us")
    )
    assert gaps.filter(F.col("gap_us") == 30 * 60 * 1_000_000).count() == 0


def test_stream_dedup_removes_exact_duplicates(spark):
    # feed every event TWICE; survivors' totals must equal the
    # single-copy batch table
    ev = tables.load(spark, SF_DIR, "events")
    batch = {
        r.event_type: (r.n_events, r.sum_value)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .collect()
    }
    d = tempfile.mkdtemp(prefix="test_stream_dup_")
    src = os.path.join(SF_DIR, "events.parquet")
    os.symlink(src, os.path.join(d, "a.parquet"))
    os.symlink(src, os.path.join(d, "b.parquet"))
    deduped = {
        r.event_type: (r.n_events, r.sum_value)
        for r in EV.stream_dedup_totals(spark, d).collect()
    }
    assert deduped == batch


def test_stream_left_interval_join_emits_watermark_cleared_nulls(spark):
    """The left-outer interval join must (a) agree with the inner join
    on matched events and (b) additionally emit zero-follower rows, but
    only for events whose join window the final watermark cleared."""
    import os
    import tempfile

    import pyspark.sql.functions as F

    from banking_data_etl_pipeline_spark.sources import tables

    d = tempfile.mkdtemp(prefix="test_loj_")
    os.symlink(
        os.path.join(SF_DIR, "events.parquet"), os.path.join(d, "events.parquet")
    )
    out = EV.stream_left_interval_join_counts(spark, d).collect()
    by_id = {r.event_id: r.n_followers for r in out}
    zeros = {k for k, v in by_id.items() if v == 0}
    assert zeros, "expected some watermark-cleared zero-follower events"

    ev = tables.load(spark, SF_DIR, "events").select("event_id", "ts")
    bounds = ev.agg(F.max("ts").alias("mt")).collect()[0]
    ts_of = {r.event_id: r.ts for r in ev.collect()}
    import datetime

    cutoff = bounds.mt - datetime.timedelta(hours=25)
    # every zero-follower event is old enough that no match can arrive
    assert all(ts_of[e] < cutoff for e in zeros)
    # and every event older than the cutoff was emitted (matched or not)
    old = {e for e, t in ts_of.items() if t < cutoff}
    assert old <= set(by_id)


def test_stream_quality_gate_equals_batch(spark):
    """The streaming quality gate is stateless, so the availableNow
    run over a bounded drop dir must equal the batch gate over the
    same file row-for-row."""
    from banking_data_etl_pipeline_spark.streaming import docs as SD

    d = tempfile.mkdtemp(prefix="stream_docs_eq_")
    os.symlink(
        os.path.join(SF_DIR, "documents.parquet"),
        os.path.join(d, "documents.parquet"),
    )
    got = {
        r.doc_id: r
        for r in EV.drain(SD.quality_gate(SD.docs_stream(spark, d)), "append").collect()
    }
    want = {
        r.doc_id: r
        for r in SD.quality_gate(
            tables.load(spark, SF_DIR, "documents")
        ).collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for k in want:
        assert got[k] == want[k], (got[k], want[k])


def test_stream_minhash_screen_equals_batch_incremental(spark):
    """The stream-static signature join must find exactly the pairs
    the batch incremental screen finds on the same batch/corpus
    split."""
    from banking_data_etl_pipeline_spark.operators import dedup
    from banking_data_etl_pipeline_spark.streaming import docs as SD

    d = tempfile.mkdtemp(prefix="stream_screen_eq_")
    os.symlink(
        os.path.join(SF_DIR, "documents.parquet"),
        os.path.join(d, "documents.parquet"),
    )
    docs = tables.load(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    got = {
        (r.batch_id, r.corpus_id): r.est_jaccard
        for r in SD.minhash_screen_stream(
            spark, d, corpus
        ).collect()
    }
    want = {
        (r.batch_id, r.corpus_id): r.est_jaccard
        for r in dedup.minhash_lsh_incremental(
            docs.filter(F.col("doc_id") % 5 == 0), corpus
        ).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slowtier
def test_stream_funnel_retroactive_earlier_view(spark, tmp_path):
    # file A arrives first: click@200, purchase@300, view@250 -> a
    # stale-best funnel would lock t1=250 and stay at depth 1.
    # file B delivers a LATE, EARLIER view@100 -> the stateful funnel
    # must re-open the chain: t1=100, t2=200, t3=300, depth 3.
    import os
    import time

    from banking_data_etl_pipeline_spark.streaming import events as EV
    from pyspark.sql import functions as F

    d = str(tmp_path / "drop")
    os.makedirs(d)

    def write_one(fname, rows):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, sec long"
        ).select(
            "event_id",
            F.expr("timestamp_seconds(sec)").alias("ts"),
            "user_id",
            "event_type",
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        tmp = str(tmp_path / ("w_" + fname))
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [p for p in os.listdir(tmp) if p.endswith(".parquet")][0]
        os.rename(os.path.join(tmp, part), os.path.join(d, fname))

    write_one("a.parquet", [(1, 7, "click", 200), (2, 7, "purchase", 300),
                            (3, 7, "view", 250)])
    time.sleep(1.1)  # file-source ordering is mtime-based
    write_one("b.parquet", [(4, 7, "view", 100)])
    out = EV.funnel_stream(
        spark, d, max_files_per_trigger=1
    ).collect()
    [r] = out
    assert (r.user_id, r.t_stage1, r.t_stage2, r.t_stage3, r.funnel_depth) == (
        7, 100, 200, 300, 3
    )


def test_stream_psi_drift_equals_batch_psi(spark):
    """The bounded availableNow PSI monitor must reproduce the batch
    expectations.psi_drift row-for-row over the same halves — the
    batch-equivalence bar every streaming twin here meets."""
    from banking_data_etl_pipeline_spark.operators import expectations
    from banking_data_etl_pipeline_spark.streaming import events as EV
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="test_stream_psi_")
    os.symlink(
        os.path.join(SF_DIR, "events.parquet"),
        os.path.join(d, "events.parquet"),
    )
    ev = tables.load(spark, SF_DIR, "events")
    ref = ev.filter(F.col("event_id") % 2 == 0)
    cur = ev.filter(F.col("event_id") % 2 == 1)
    batch = {
        r.bin: (r.n_ref, r.n_cur, r.p_ref, r.p_cur, r.psi_term)
        for r in expectations.psi_drift(ref, cur, "value").collect()
    }
    streamed = {
        r.bin: (r.n_ref, r.n_cur, r.p_ref, r.p_cur, r.psi_term)
        for r in EV.psi_drift_stream(
            spark, d, ref,
            cur_filter=F.col("event_id") % 2 == 1,
        ).collect()
    }
    assert streamed == batch
    spark.catalog.clearCache()


def test_stream_topk_users_equals_batch_leaderboard(spark):
    ev = tables.load(spark, SF_DIR, "events")
    tot = ev.count()
    batch = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
        .collect()
    )
    d = tempfile.mkdtemp(prefix="test_topk_users_")
    os.symlink(
        os.path.join(SF_DIR, "events.parquet"),
        os.path.join(d, "events.parquet"),
    )
    out = EV.topk_users_stream(spark, d).collect()
    assert [(r.rank, r.user_id, r.n_events) for r in out] == [
        (i + 1, b.user_id, b.n_events) for i, b in enumerate(batch)
    ]
    assert all(r.share == round(r.n_events / tot, 6) for r in out)


def test_stream_topk_users_split_delivery_invariant(spark, tmp_path):
    # the same events split across TWO files (micro-batches under
    # availableNow) must produce the identical final leaderboard —
    # update-mode re-emissions reduce to the terminal MAX per user
    ev = tables.load(spark, SF_DIR, "events")
    d = str(tmp_path / "feed")
    os.makedirs(d)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        d, mode="append"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        d, mode="append"
    )
    whole = tempfile.mkdtemp(prefix="test_topk_whole_")
    os.symlink(
        os.path.join(SF_DIR, "events.parquet"),
        os.path.join(whole, "events.parquet"),
    )
    a = EV.topk_users_stream(spark, d).collect()
    b = EV.topk_users_stream(spark, whole).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_stateful_totals_recovery_carries_state_across_restart(spark):
    """The kill-and-restart protocol must produce FULL-table totals:
    users with events in both parity halves prove query B resumed from
    the checkpointed state rather than recounting from zero."""
    ev = tables.load(spark, SF_DIR, "events")
    got = {
        r.user_id: (r.n_events, round(r.sum_value, 6))
        for r in EV.stateful_totals_recovery(
            spark, ev
        ).collect()
    }
    want = {
        r.user_id: (r.n_events, round(r.sum_value, 6))
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    }
    assert got == want
    # the proof has teeth only if the split actually spans the restart:
    # some user must have events in BOTH halves, so phase-2-only counts
    # would NOT reproduce the batch totals
    phase2_only = {
        r.user_id: r.n_events
        for r in ev.filter(F.col("event_id") % 2 == 1)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    # a user with 0 < phase-2 count < total genuinely has events on
    # BOTH sides of the restart (r11 advice: `< n` alone is satisfied
    # by a phase-1-only user, making the guard nearly vacuous)
    assert any(
        0 < phase2_only.get(u, 0) < n for u, (n, _s) in got.items()
    ), "parity split left no user spanning the restart boundary"


@pytest.mark.parametrize("feed", ["no_events", "one_event_per_user"])
def test_interval_join_with_no_matches_is_empty(spark, tmp_path, feed):
    """With no user holding two events the join emits no rows; with no
    events at all no micro-batch runs and the parquet sink lands no
    data file. Either way the drain must return an empty frame with
    the result columns, not a schema-inference error."""
    import pandas as pd

    if feed == "one_event_per_user":
        pd.DataFrame(
            {
                "event_id": [1, 2, 3],
                "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:10",
                                      "2024-01-01 00:20"]),
                "user_id": [10, 20, 30],
                "event_type": ["view", "click", "view"],
                "value": [1.0, 2.0, 3.0],
                "props": ["{}", "{}", "{}"],
            }
        ).to_parquet(tmp_path / "a.parquet", coerce_timestamps="us")
    out = EV.stream_interval_join_counts(spark, str(tmp_path))
    assert out.columns == ["event_id", "user_id", "n_followers"]
    assert out.count() == 0


def test_drain_leaves_no_view_query_or_conf_behind(spark, tmp_path):
    d = tmp_path / "feed"
    d.mkdir()
    os.symlink(os.path.join(SF_DIR, "events.parquet"), d / "events.parquet")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    a = EV.drain(EV.windowed_agg_stream(spark, str(d)), "complete")
    b = EV.drain(
        EV.windowed_agg_stream(spark, str(d)), "complete", partitions=16
    )
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("drain_")
    ]
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
    # the returned frames outlive their dropped views
    assert a.count() == b.count() > 0

    empty = tmp_path / "empty"
    empty.mkdir()
    stream = EV.windowed_agg_stream(spark, str(empty))
    out = EV.drain(stream, "complete")
    assert out.schema == stream.schema
    assert out.count() == 0
