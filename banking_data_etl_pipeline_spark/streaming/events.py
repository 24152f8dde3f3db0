"""Structured Streaming over the ``events`` table.

The reference is batch-only (DirectRunner pinned,
``batch_pipeline1.py:326``) — streaming here covers the unbounded
analogue of its pipeline plus the windowed aggregations a production
events feed needs: watermarked tumbling-window aggregation and
sessionization.

Batch/stream parity: ``windowed_agg_batch`` is the exact batch twin of
``windowed_agg_stream`` (same expressions), which is what the DuckDB
oracle checks.

Every bounded run goes through ``_run_available_now`` (availableNow
trigger under a scoped state-partition count); ``drain`` adds the
memory sink under a generated, immediately-dropped view name, so no
streaming function takes or registers a query name.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import conf_override, pin_for_query

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# The driver parquet has shipped ts as INT64 TIMESTAMP(NANOS) in some
# rounds and TIMESTAMP(MICROS) in others. A file-source stream must
# declare its schema up front, so read ts as raw INT64 either way and
# let events_stream() pick the units (the INT64 payload is nanos or
# micros respectively; the declared LongType reads both).
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming reader for an events dir with timestamp-unit sniffing.

    Probes the parquet footer via a driver-side batch schema inference
    (metadata-only, no data scan): under ``nanosAsLong`` a NANOS file
    infers ts as LongType, a MICROS file as TimestampType. The stream
    then declares ts as raw INT64 and applies the matching conversion
    to micros-precision TimestampType — identical to what
    ``sources.tables.load`` produces for the batch twins, which is what
    the batch/stream parity tests and shared oracles require."""
    try:
        nanos = isinstance(
            spark.read.parquet(events_dir).schema["ts"].dataType, T.LongType
        )
    except Exception:
        # empty feed dir (consumer started before the producer — the
        # normal file-source pattern): nothing to probe yet, so assume
        # the current driver generation's MICROS encoding; a NANOS
        # producer appearing later would need a stream restart, which
        # the unit change itself would force anyway
        nanos = False
    to_ts = "timestamp_micros(ts DIV 1000)" if nanos else "timestamp_micros(ts)"
    return (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .load(events_dir)
        .withColumn("ts", F.expr(to_ts))
    )


def _window_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window x event_type: count + sum(value).

    Output keys the window by epoch seconds (timezone-independent) so
    results hash-match an oracle regardless of session TZ."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # sum through DECIMAL: exact and order-independent, so the
            # result is identical across partitionings AND engines
            # (double sums would drift in the last bits per merge order)
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_agg_batch(events: DataFrame) -> DataFrame:
    return _window_agg(events)


def _run_available_now(spark: SparkSession, writer, partitions: int = 8) -> None:
    """Start ``writer`` (a configured ``DataStreamWriter``) with the
    availableNow trigger and block until the bounded input is drained.
    This is the package's one ``availableNow`` trigger site.

    ``spark.sql.shuffle.partitions`` is ``partitions`` only while the
    stream runs (``session.conf_override``); the rest of the builder
    runs at the session's own width. The state-store partition count
    is frozen from it at the FIRST trigger and every partition costs a
    state store + commit files per micro-batch — so size it to the
    KEYSPACE, not the CPU count (per-batch store overhead dominates
    wall-clock far below ~millions of keys; on a real cluster pick
    ~2-4x executors, and for a stream-stream join remember each
    partition carries FOUR stores: left/right keyToNumValues +
    keyWithIndexToValue)."""
    with conf_override(spark, "spark.sql.shuffle.partitions", partitions):
        writer.trigger(availableNow=True).start().awaitTermination()


def drain(df: DataFrame, mode: str, partitions: int = 8) -> DataFrame:
    """Run the streaming ``df`` to completion over its bounded input in
    output ``mode`` and return the emitted rows as a batch frame.

    The rows land in a memory sink under a generated query name; the
    temp view the sink registers is dropped before returning, so the
    rows live exactly as long as the returned frame (whose plan holds
    the sink), not until the session ends."""
    spark = df.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    try:
        _run_available_now(
            spark,
            df.writeStream.outputMode(mode).format("memory").queryName(name),
            partitions,
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def windowed_agg_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """The same aggregation as an unbounded plan: file source +
    10-minute watermark (late-data bound; state for a window is freed
    once the watermark passes its end)."""
    stream = events_stream(spark, events_dir)
    return _window_agg(stream.withWatermark("ts", "10 minutes"))


def stateful_user_totals(spark: SparkSession, events_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator: per-user running totals via
    ``applyInPandasWithState`` (Arrow-batched, update mode).

    State is (count, micros) with the sum in INTEGER MICRO-UNITS,
    rounded PER ROW before summing — exact DECIMAL(18,6) semantics
    under any micro-batch split (a per-chunk float sum rounded once
    would silently drift for large chunks or sub-cent values), so the
    final per-user totals equal the batch DECIMAL(18,6) groupBy
    exactly (the oracle cross-checks them). Data contract: values are
    decimals with <= 6 fractional digits (the events feed is 2dp);
    finer precision would be truncated differently than the DECIMAL
    oracle. Emits the running total on every update; the terminal
    select keeps each user's last (max-count) emission, which is the
    final state regardless of how availableNow chunked the input.
    """
    updates = _user_totals_updates(events_stream(spark, events_dir))
    return _terminal_user_totals(drain(updates, "update"))


def _user_totals_updates(stream: DataFrame, mode: str = "update") -> DataFrame:
    """The per-user running-totals stateful transform shared by
    ``stateful_user_totals`` and the checkpoint-recovery proof —
    see the former's docstring for the integer-micros exactness
    argument."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, sum_value double"
    state_schema = "cnt long, micros long"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cnt, micros = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            micros += int(
                pdf["value"].mul(1_000_000.0).round().astype("int64").sum()
            )
        state.update((cnt, micros))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "sum_value": [micros / 1_000_000.0],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, mode, GroupStateTimeout.NoTimeout
    )


def _terminal_user_totals(emissions: DataFrame) -> DataFrame:
    """Last emission per user == final state (n_events is monotone)."""
    final = F.max(F.struct("n_events", "sum_value")).alias("s")
    return (
        emissions.groupBy("user_id")
        .agg(final)
        .select("user_id", F.col("s.n_events").alias("n_events"),
                F.col("s.sum_value").alias("sum_value"))
    )


def _land_feed_file(
    spark: SparkSession, work: str, src: str, df: DataFrame, fname: str
) -> None:
    """Land one phase of a split feed as a single parquet file in the
    streaming source dir (shared by the kill-and-restart proofs).
    INT64 micros, never INT96: events_stream declares ts as INT64
    (footer-probe contract), which INT96 can't satisfy."""
    import os
    import shutil

    stage = os.path.join(work, "stage_" + fname)
    with conf_override(
        spark, "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    ):
        df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(p for p in os.listdir(stage) if p.startswith("part-"))
    shutil.copyfile(os.path.join(stage, part), os.path.join(src, fname))


def stateful_totals_recovery(
    spark: SparkSession, events_full: DataFrame
) -> DataFrame:
    """CHECKPOINT-RECOVERY proof for the stateful streaming operators:
    the same per-user running totals as ``stateful_user_totals``, but
    driven across a QUERY RESTART boundary — the property a 100 TB
    streaming ingest actually needs and a single uninterrupted
    availableNow run never exercises.

    Protocol (deterministic, no racy mid-batch kill):
      1. the feed is split into two files (event_id parity); file 1
         lands in a fresh source dir;
      2. query A runs availableNow with a CHECKPOINT dir and
         terminates — state (per-user count + integer-micros sum)
         survives only in the checkpoint's state store;
      3. file 2 lands; query B starts FROM THE SAME CHECKPOINT — the
         restart path: source offsets say file 1 is done, the state
         store is reloaded, and only file 2 is processed ON TOP of the
         recovered state;
      4. the result is the per-user terminal row over BOTH runs'
         emissions (n_events is monotone, so MAX absorbs any
         at-least-once replay the sink saw).

    The sink is a PARQUET FILE SINK in append mode — the memory sink
    refuses checkpoint recovery outright ("does not support
    recovering from checkpoint location"), while the file sink's
    metadata log is the fault-tolerant, exactly-once sink a real
    restart uses. Append mode is the arbitrary-stateful-operator
    contract here: each micro-batch appends that batch's emission
    rows; the terminal MAX per user reads the last one.

    The batch oracle is the DECIMAL(18,6) groupBy over the FULL
    table, so a broken recovery cannot pass: almost every user has
    events on both sides of the parity split, and if query B started
    from empty state (checkpoint ignored / state lost) its terminal
    rows would carry file-2-only counts and hash-mismatch — query B's
    emissions are the only place file-1 counts can come from.

    Run artifacts (source dir, checkpoint, sink) live in a private
    temp dir deleted before returning; the terminal frame is
    localCheckpoint-materialized first (user-count-sized) and pinned
    to the query scope (``session.pin_for_query``)."""
    import os
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="spark_graft_recovery_")
    try:
        src = os.path.join(work, "src")
        ckpt = os.path.join(work, "ckpt")
        os.makedirs(src)
        sink = os.path.join(work, "sink")
        for i in (0, 1):
            _land_feed_file(
                spark,
                work,
                src,
                events_full.filter(F.col("event_id") % 2 == i),
                f"phase{i}.parquet",
            )
            updates = _user_totals_updates(
                events_stream(spark, src), mode="append"
            )
            _run_available_now(
                spark,
                updates.writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt),
            )
        return pin_for_query(
            _terminal_user_totals(spark.read.parquet(sink)).localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stream_dedup_totals(
    spark: SparkSession, events_dir: str, watermark: str = "40 days"
) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` on the
    event key, then per-type totals of the surviving rows.

    This is the streaming half of the dedup family (the batch ops live
    in ``operators.dedup``): duplicate events arriving within the
    watermark bound are suppressed with per-key state that is FREED
    once the watermark passes — bounded state on an unbounded feed,
    which plain ``dropDuplicates`` cannot promise. The test feed plays
    the events table twice (two files of identical rows), so the
    surviving rows must equal the plain batch table — the oracle checks
    per-type counts and decimal-exact sums. ``watermark`` is the
    dup-arrival bound; it exceeds the test data's 1-month span so
    nothing is dropped as late."""
    stream = (
        events_stream(spark, events_dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    # keyspace here is EVERY event_id inside the watermark (large), so
    # more state partitions pay off — unlike the per-user operators
    return (
        drain(stream, "append", 16)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
    )


def _drain_interval_join(
    spark: SparkSession, joined: DataFrame, finalize
) -> DataFrame:
    """Drain a stream-stream join through an EXECUTOR-SIDE parquet
    sink and reduce the landed rows with ``finalize`` (a batch
    aggregation), returning the localCheckpoint-materialized result.

    The earlier memory-sink form collected every JOINED ROW to the
    driver (~219k rows at sf0.1) before the terminal aggregation — at
    100 TB that is a driver OOM by construction (guide §5: the driver
    should do almost no data work). The parquet file sink is the same
    fault-tolerant, exactly-once sink the checkpoint-recovery proof
    uses: each micro-batch's join output is written by the join tasks
    themselves, row-scale data never crosses the driver, and the
    terminal aggregation runs as an ordinary distributed batch plan
    over the landed files. The aggregated result (keyed per event —
    orders of magnitude smaller than the join output) is
    localCheckpoint-materialized so the scratch dir can be deleted
    before returning; its blocks live in executor storage until the
    query scope closes (``session.pin_for_query``). The landed files
    are read with the join's declared schema: a feed with no input
    runs no micro-batch and lands no data file, and schema inference
    over an empty sink would fail."""
    import os
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="spark_graft_ij_")
    try:
        sink = os.path.join(work, "sink")
        ckpt = os.path.join(work, "ckpt")
        _run_available_now(
            spark,
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt),
            16,
        )
        return pin_for_query(
            finalize(spark.read.schema(joined.schema).parquet(sink)).localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stream_interval_join_counts(
    spark: SparkSession, events_dir: str, hours: int = 24
) -> DataFrame:
    """Stream-stream interval self-join: per event, how many other
    events the same user produced within the next ``hours``.

    Both sides are watermarked and the join carries an event-time range
    condition, so Spark's symmetric hash join can EVICT state once the
    watermark passes a row's join window — bounded state on unbounded
    feeds, the defining property of a production stream-stream join
    (an unconstrained stream join would buffer forever). Batch twin:
    the inner form of ``relational.range_join_followers`` — the oracle
    checks the streamed counts equal the batch range join exactly.
    Join output lands through the executor-side parquet sink
    (``_drain_interval_join``), never the driver."""
    def side(alias: str) -> DataFrame:
        return (
            events_stream(spark, events_dir)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("event_id").alias(f"{alias}_id"),
                F.col("user_id").alias(f"{alias}_user"),
                F.col("ts").alias(f"{alias}_ts"),
            )
        )

    left, right = side("l"), side("r")
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {int(hours)} HOURS"))
        & (F.col("l_id") != F.col("r_id")),
        "inner",
    )
    return _drain_interval_join(
        spark,
        joined.select("l_id", "l_user"),
        lambda rows: rows.groupBy(
            F.col("l_id").alias("event_id"), F.col("l_user").alias("user_id")
        ).agg(F.count(F.lit(1)).alias("n_followers")),
    )


def stream_sessionize(
    spark: SparkSession, events_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Streaming sessionization via ``session_window`` — Spark's native
    merging-session-state operator (vs the batch lag+cumsum twin in
    ``sessionize_batch``; both split on inactivity > gap). Complete
    output mode on the bounded test feed so trailing sessions emit
    without watermark games; an unbounded deployment would use append
    mode + a watermark sized to the max session length. The terminal
    ``session_seq`` rank (per user, by start time) maps window
    identities onto the batch oracle's sequence numbers.

    Boundary semantics caveat: ``session_window`` starts a NEW session
    when an event arrives EXACTLY ``gap`` after its predecessor (the
    window end is exclusive), while the batch twin splits only on gap
    strictly > ``gap``. Parity against the shared oracle therefore
    requires no exact-boundary gaps in the data — true of the driver
    testdata (microsecond timestamps make an exact 1800.000000 s gap
    vanishingly unlikely) and asserted for the curious by
    ``tests/test_events_streaming.py::test_no_exact_gap_boundaries``."""
    from pyspark.sql import Window

    stream = events_stream(spark, events_dir)
    sessions = stream.groupBy(
        F.col("user_id"), F.session_window("ts", f"{gap_minutes} minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("unix_micros(min(ts)) DIV 1000000").alias("session_start_epoch"),
        F.expr("unix_micros(max(ts)) DIV 1000000").alias("session_end_epoch"),
    )
    w = Window.partitionBy("user_id").orderBy("session_start_epoch")
    return drain(sessions, "complete").select(
        "user_id",
        (F.row_number().over(w) - 1).cast("long").alias("session_seq"),
        "n_events",
        "session_start_epoch",
        "session_end_epoch",
    )


def stream_sessionize_append(
    spark: SparkSession,
    events_dir: str,
    gap_minutes: int = 30,
    watermark_minutes: int = 1,
) -> DataFrame:
    """The PRODUCTION deployment shape of streaming sessionization:
    ``session_window`` with a watermark and APPEND output mode.

    A session emits exactly once, when the watermark passes its end
    (last event + gap), and its state is then freed — bounded state on
    an unbounded feed, unlike the complete-mode harness above which
    buffers every session forever. The cost is that trailing sessions
    still open at end-of-feed never emit; on the bounded test feed the
    emitted set must therefore equal the batch sessions that CLOSED
    before the final watermark (max event time - watermark), which is a
    per-user suffix cut — asserted both directions by
    ``tests/test_events_streaming.py::test_append_sessionize``.

    ``watermark_minutes`` bounds late data; production would size it to
    the feed's real disorder (and keep the gap >= watermark so session
    merging still sees all late events)."""
    from pyspark.sql import Window

    stream = events_stream(spark, events_dir).withWatermark(
        "ts", f"{watermark_minutes} minutes"
    )
    sessions = stream.groupBy(
        F.col("user_id"), F.session_window("ts", f"{gap_minutes} minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("unix_micros(min(ts)) DIV 1000000").alias("session_start_epoch"),
        F.expr("unix_micros(max(ts)) DIV 1000000").alias("session_end_epoch"),
    )
    w = Window.partitionBy("user_id").orderBy("session_start_epoch")
    return drain(sessions, "append").select(
        "user_id",
        (F.row_number().over(w) - 1).cast("long").alias("session_seq"),
        "n_events",
        "session_start_epoch",
        "session_end_epoch",
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization (batch): per-user sessions split on inactivity
    gaps > gap_minutes, via lag + cumulative sum — the standard
    shuffle-once window-function formulation. Streaming twin would use
    ``session_window(ts, gap)``."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap test in integer MICROSECONDS: exact, and identical to the
    # oracle's epoch_us arithmetic (double-seconds would round/floor
    # differently between engines on sub-second timestamps)
    gap_us = gap_minutes * 60 * 1_000_000
    with_gap = events.withColumn(
        "_new_session",
        F.when(
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) > gap_us,
            1,
        )
        .otherwise(0),
    )
    with_sid = with_gap.withColumn(
        "session_seq",
        F.sum("_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        with_sid.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("unix_micros(min(ts)) DIV 1000000").alias("session_start_epoch"),
            F.expr("unix_micros(max(ts)) DIV 1000000").alias("session_end_epoch"),
        )
    )


def stream_static_join(
    spark: SparkSession, events_dir: str, dim: DataFrame
) -> DataFrame:
    """Streaming enrichment: join the unbounded events feed to a STATIC
    dimension (customers), then aggregate revenue per market segment —
    the standard "enrich the stream with reference data" deployment.

    Scale shape: a stream-static equi-join needs NO streaming state at
    all (the static side is just re-read/broadcast per micro-batch; the
    dimension is small, so Spark broadcasts it under AQE and each
    micro-batch is a map-only probe). The aggregation runs in complete
    mode over low-cardinality segment keys — bounded state by key
    cardinality, not feed length. Sums go through DECIMAL so the result
    is micro-batch-split invariant and equals the batch twin exactly.
    """
    stream = events_stream(spark, events_dir)
    enriched = stream.join(
        F.broadcast(dim.select("c_custkey", "c_mktsegment")),
        stream["user_id"] == F.col("c_custkey"),
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("sum_value"),
    )
    return drain(agg, "complete")


def stream_left_interval_join_counts(
    spark: SparkSession, events_dir: str, hours: int = 24
) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: per event, the count of
    same-user events in the next ``hours`` — INCLUDING zero-follower
    events, which an inner join silently drops.

    The outer side is what makes this a real streaming problem: an
    unmatched left row can only be emitted once the watermark proves no
    future match can arrive (watermark > event time + join window), so
    the nulls trail the matches by the window + watermark delay. On a
    bounded availableNow run the stream ends with the watermark at
    max(ts) - delay, so events younger than ``hours`` + delay before
    the stream end never emit their unmatched form — matched events
    still appear (matches emit immediately). The batch twin encodes
    exactly that cutoff, which is the honest semantics of a stream
    stopped mid-watermark, not a parity fudge.
    """
    def side(alias: str) -> DataFrame:
        return (
            events_stream(spark, events_dir)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("event_id").alias(f"{alias}_id"),
                F.col("user_id").alias(f"{alias}_user"),
                F.col("ts").alias(f"{alias}_ts"),
            )
        )

    left, right = side("l"), side("r")
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {int(hours)} HOURS"))
        & (F.col("l_id") != F.col("r_id")),
        "left_outer",
    )
    return _drain_interval_join(
        spark,
        joined.select("l_id", "l_user", "r_id"),
        lambda rows: rows.groupBy(
            F.col("l_id").alias("event_id"), F.col("l_user").alias("user_id")
        ).agg(F.count(F.col("r_id")).alias("n_followers")),
    )


def funnel_stream(
    spark: SparkSession,
    events_dir: str,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom STATEFUL streaming funnel via ``applyInPandasWithState``:
    the ordered view -> click -> purchase progression computed
    INCREMENTALLY as events arrive, out-of-order-safe — per-user state
    keeps the per-stage arrival-time lists, so a late-arriving earlier
    'view' correctly LOWERS t_stage1 and re-opens later stages
    (an operator that only tracked current bests would silently keep a
    stale chain; that retroactivity is what makes funnels genuinely
    stateful rather than a running aggregate). State is bounded by the
    per-user event count inside the retention horizon — production
    adds an event-time timeout to expire users (the same watermark
    discipline as ``sessionize_stream``); the bounded availableNow run
    here needs none.

    Timestamps reduce to epoch seconds in a STATELESS projection
    before the stateful op (ints cross the Arrow boundary; no
    pandas-datetime unit ambiguity). Emits each user's current funnel
    on every update; the terminal reduction keeps the last emission
    (n_seen is strictly monotone), which equals the batch
    ``timeseries.funnel`` over the same events — the driver checks it
    against the SAME oracle (FUNNEL_Q), the batch-equivalence bar.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, n_seen long, t_stage1 long, t_stage2 long,"
        " t_stage3 long, funnel_depth int"
    )
    state_schema = "n long, s1 array<long>, s2 array<long>, s3 array<long>"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, s1, s2, s3 = (
            state.get if state.exists else (0, [], [], [])
        )
        lists = {
            stages[0]: list(s1 or []),
            stages[1]: list(s2 or []),
            stages[2]: list(s3 or []),
        }
        for pdf in pdfs:
            n += len(pdf)
            for et, t in zip(pdf["event_type"], pdf["t"]):
                if et in lists:
                    lists[et].append(int(t))
        state.update(
            (n, lists[stages[0]], lists[stages[1]], lists[stages[2]])
        )
        t1 = min(lists[stages[0]]) if lists[stages[0]] else None
        if t1 is None:  # typed empty frame (no all-NA concat warning)
            yield pd.DataFrame(
                {
                    "user_id": pd.array([], dtype="int64"),
                    "n_seen": pd.array([], dtype="int64"),
                    "t_stage1": pd.array([], dtype="Int64"),
                    "t_stage2": pd.array([], dtype="Int64"),
                    "t_stage3": pd.array([], dtype="Int64"),
                    "funnel_depth": pd.array([], dtype="int32"),
                }
            )
            return
        after1 = [t for t in lists[stages[1]] if t > t1]
        t2 = min(after1) if after1 else None
        after2 = (
            [t for t in lists[stages[2]] if t > t2] if t2 is not None else []
        )
        t3 = min(after2) if after2 else None
        depth = 3 if t3 is not None else (2 if t2 is not None else 1)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_seen": [n],
                "t_stage1": pd.array([t1], dtype="Int64"),
                "t_stage2": pd.array([t2], dtype="Int64"),
                "t_stage3": pd.array([t3], dtype="Int64"),
                "funnel_depth": [depth],
            }
        )

    src_stream = events_stream(spark, events_dir)
    if max_files_per_trigger:  # per-file micro-batches (tests exercise
        # the cross-batch retroactivity path with this)
        src_stream = (
            spark.readStream.schema(src_stream.schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .format("parquet")
            .load(events_dir)
        )
    stream = src_stream.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts) DIV 1000000").alias("t"),
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    # last emission per user == final funnel (n_seen strictly monotone,
    # so the struct max never tie-breaks on the nullable stage fields)
    last = F.max(
        F.struct("n_seen", "t_stage1", "t_stage2", "t_stage3", "funnel_depth")
    ).alias("s")
    return (
        drain(updates, "update")
        .groupBy("user_id")
        .agg(last)
        .select(
            "user_id",
            F.col("s.t_stage1").alias("t_stage1"),
            F.col("s.t_stage2").alias("t_stage2"),
            F.col("s.t_stage3").alias("t_stage3"),
            F.col("s.funnel_depth").alias("funnel_depth"),
        )
    )


def psi_drift_stream(
    spark: SparkSession,
    events_dir: str,
    ref: DataFrame,
    value_col: str = "value",
    n_bins: int = 10,
    cur_filter=None,
) -> DataFrame:
    """STREAMING PSI drift monitor — the governance gate in front of
    retraining triggers, run the way production runs it: the REFERENCE
    bin profile is fixed once from the static training-snapshot side
    (min/max collected eagerly, model-parameter scale — exactly
    ``expectations.psi_drift``'s staging), while the CURRENT side's
    bin counts accumulate INCREMENTALLY from the event stream (a
    streaming groupBy over at most ``n_bins`` keys in complete mode —
    constant state, no watermark needed because the bucket expression
    is stateless and bins are a closed set). Final scoring reuses
    ``expectations.psi_score_bins`` verbatim, so the streaming monitor
    and the batch one can never diverge on the formula — and the
    bounded availableNow run therefore equals the batch PSI exactly,
    which is what the shared-shape oracle checks (the
    stream_window_agg batch-equivalence bar).

    Returns one row per bin: (bin, n_ref, n_cur, p_ref, p_cur,
    psi_term)."""
    from ..operators import expectations

    mm = ref.agg(
        F.min(F.col(value_col).cast("double")).alias("lo"),
        F.max(F.col(value_col).cast("double")).alias("hi"),
    ).first()
    if mm[0] is None or mm[1] is None:
        raise ValueError(
            f"psi_drift_stream: reference has no non-null '{value_col}'"
        )
    lo, hi = float(mm[0]), float(mm[1])
    if hi == lo:
        raise ValueError(
            f"psi_drift_stream: reference '{value_col}' is constant"
        )
    width = (hi - lo) / float(n_bins)

    def bucket(col):
        b = F.floor((col.cast("double") - F.lit(lo)) / F.lit(width))
        return F.least(F.greatest(b, F.lit(0)), F.lit(n_bins - 1)).cast("int")

    cur = events_stream(spark, events_dir)
    if cur_filter is not None:
        cur = cur.filter(cur_filter)
    stream_bins = (
        cur.select(bucket(F.col(value_col)).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    cur_bins = drain(stream_bins, "complete")
    ref_bins = (
        ref.select(bucket(F.col(value_col)).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    joined = (
        ref_bins.join(cur_bins, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce(F.col("n_ref"), F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce(F.col("n_cur"), F.lit(0)).cast("bigint").alias("n_cur"),
        )
    )
    return expectations.psi_score_bins(joined, n_bins)


def attribution_stream(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STATEFUL streaming last-touch attribution via
    ``applyInPandasWithState``: each purchase is credited to the
    user's most recent PRECEDING non-purchase event, maintained
    incrementally and out-of-order-safe — a late-arriving touch that
    slots between an earlier touch and a purchase RE-ATTRIBUTES that
    purchase (the funnel_stream retroactivity argument: an operator
    keeping only the current best touch would silently ship stale
    credit). Per-user state is the event list inside the retention
    horizon; production expires users by event-time timeout (the
    sessionize watermark discipline) — the bounded availableNow run
    here needs none.

    Emits the user's full current attribution table on every update;
    the terminal reduction keeps each purchase's last emission
    (n_seen strictly monotone per user). The result must equal the
    batch ``relational.last_touch_attribution`` row-for-row — the
    driver checks it against the SAME oracle (ATTRIBUTION_Q), the
    batch-equivalence bar. Timestamps cross the Arrow boundary as
    integer microseconds."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, n_seen long, event_id long, attr_type string,"
        " attr_event_id long, gap_us long"
    )
    state_schema = (
        "n long, ts array<long>, ids array<long>, types array<string>"
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, ts, ids, types = (
            state.get if state.exists else (0, [], [], [])
        )
        ts, ids, types = list(ts or []), list(ids or []), list(types or [])
        for pdf in pdfs:
            n += len(pdf)
            ts.extend(int(t) for t in pdf["t"])
            ids.extend(int(i) for i in pdf["event_id"])
            types.extend(str(x) for x in pdf["event_type"])
        state.update((n, ts, ids, types))
        rows = sorted(zip(ts, ids, types), key=lambda r: (r[0], r[1]))
        out = {
            "user_id": [], "n_seen": [], "event_id": [],
            "attr_type": [], "attr_event_id": [], "gap_us": [],
        }
        last_touch = None
        for t, i, et in rows:
            if et == "purchase":
                out["user_id"].append(key[0])
                out["n_seen"].append(n)
                out["event_id"].append(i)
                if last_touch is None:
                    out["attr_type"].append(None)
                    out["attr_event_id"].append(None)
                    out["gap_us"].append(None)
                else:
                    out["attr_type"].append(last_touch[2])
                    out["attr_event_id"].append(last_touch[1])
                    out["gap_us"].append(t - last_touch[0])
            else:
                last_touch = (t, i, et)
        yield pd.DataFrame(
            {
                "user_id": pd.array(out["user_id"], dtype="int64"),
                "n_seen": pd.array(out["n_seen"], dtype="int64"),
                "event_id": pd.array(out["event_id"], dtype="int64"),
                "attr_type": pd.array(out["attr_type"], dtype=object),
                "attr_event_id": pd.array(
                    out["attr_event_id"], dtype="Int64"
                ),
                "gap_us": pd.array(out["gap_us"], dtype="Int64"),
            }
        )

    src_stream = events_stream(spark, events_dir)
    if max_files_per_trigger:
        src_stream = (
            spark.readStream.schema(src_stream.schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .format("parquet")
            .load(events_dir)
        )
    stream = src_stream.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("t"),
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    # last emission per purchase: n_seen is monotone per user, and the
    # attribution fields ride the struct so they come from that same
    # final emission
    last = F.max(
        F.struct("n_seen", "attr_type", "attr_event_id", "gap_us")
    ).alias("s")
    return (
        drain(updates, "update")
        .groupBy("event_id", "user_id")
        .agg(last)
        .select(
            "event_id",
            "user_id",
            F.col("s.attr_type").alias("attr_type"),
            F.col("s.attr_event_id").alias("attr_event_id"),
            F.col("s.gap_us").alias("gap_us"),
        )
    )


def ewma_stream(
    spark: SparkSession,
    events_dir: str,
    window: int = 16,
    min_hist: int = 4,
    top: int = 100,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STATEFUL streaming EWMA anomaly scoring via
    ``applyInPandasWithState``: each event's value is predicted from
    the exponentially-weighted window of its user's PRECEDING values,
    maintained incrementally and out-of-order-safe — a late-arriving
    event re-scores every event it precedes (the attribution_stream
    retroactivity argument). Per-user state is the (ts, id, value)
    history; production bounds it with an event-time timeout, the
    bounded availableNow run here needs none.

    Float parity: the Python fold uses the SAME exact power-of-two
    weights as the batch twin (``v / (1 << j)`` — IEEE doubles, no
    pow()), and rounding happens ONLY in the terminal Spark selection
    (Python's round() is banker's, Spark/DuckDB's is not — raw
    doubles cross the Arrow boundary).

    The result must equal batch ``timeseries.ewma_anomaly`` row for
    row; the driver checks it against the SAME oracle
    (EWMA_ANOMALY_Q), the batch-equivalence bar."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, n_seen long, event_id long, value double,"
        " pred double"
    )
    state_schema = "n long, ts array<long>, ids array<long>, vals array<double>"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, ts, ids, vals = state.get if state.exists else (0, [], [], [])
        ts, ids, vals = list(ts or []), list(ids or []), list(vals or [])
        for pdf in pdfs:
            keep = pdf[pdf["value"].notna()]
            n += len(keep)
            ts.extend(int(t) for t in keep["t"])
            ids.extend(int(i) for i in keep["event_id"])
            vals.extend(float(v) for v in keep["value"])
        state.update((n, ts, ids, vals))
        rows = sorted(zip(ts, ids, vals), key=lambda r: (r[0], r[1]))
        out = {"user_id": [], "n_seen": [], "event_id": [], "value": [],
               "pred": []}
        hist: list[float] = []
        for _t, i, v in rows:
            m = min(len(hist), window)
            if m >= min_hist:
                num, den = 0.0, 0.0
                for j in range(1, m + 1):
                    w = 1 << j
                    num += hist[-j] / w
                    den += 1.0 / w
                out["user_id"].append(key[0])
                out["n_seen"].append(n)
                out["event_id"].append(i)
                out["value"].append(v)
                out["pred"].append(num / den)
            hist.append(v)
        yield pd.DataFrame(
            {
                "user_id": pd.array(out["user_id"], dtype="int64"),
                "n_seen": pd.array(out["n_seen"], dtype="int64"),
                "event_id": pd.array(out["event_id"], dtype="int64"),
                "value": pd.array(out["value"], dtype="float64"),
                "pred": pd.array(out["pred"], dtype="float64"),
            }
        )

    src_stream = events_stream(spark, events_dir)
    if max_files_per_trigger:
        src_stream = (
            spark.readStream.schema(src_stream.schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .format("parquet")
            .load(events_dir)
        )
    stream = src_stream.select(
        "user_id",
        "event_id",
        F.col("value").cast("double").alias("value"),
        F.expr("unix_micros(ts)").alias("t"),
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    last = F.max(F.struct("n_seen", "value", "pred")).alias("s")
    return (
        drain(updates, "update")
        .groupBy("event_id", "user_id")
        .agg(last)
        .select(
            "event_id",
            "user_id",
            F.col("s.value").alias("value"),
            F.round(F.col("s.pred"), 6).alias("pred"),
            F.round(F.abs(F.col("s.value") - F.col("s.pred")), 6).alias(
                "abs_dev"
            ),
        )
        .orderBy(F.desc("abs_dev"), F.asc("event_id"))
        .limit(top)
    )


def srm_stream(
    spark: SparkSession, events_dir: str, watermark: str = "40 days"
) -> DataFrame:
    """Streaming sample-ratio-mismatch monitor: the experiment-health
    gate (``operators.experiments.srm_check``) maintained ON the feed —
    ``dropDuplicatesWithinWatermark`` keeps per-user first-seen state
    (bounded: keys are freed once the watermark passes), the surviving
    first-touches flow into the same md5-nibble arm derivation and
    one-row chi-square as the batch gate. An assignment bug (a biased
    bucketing deploy) is visible while the experiment runs, not at
    readout time. Batch-equivalence oracle: distinct users are
    identical either way, so the stream must reproduce SRM_Q
    exactly."""
    from ..operators import experiments

    stream = (
        events_stream(spark, events_dir)
        .select(F.col("user_id"), F.col("ts"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id"])
    )
    return experiments.srm_check(drain(stream, "append", 16))


def topk_users_stream(
    spark: SparkSession, events_dir: str, k: int = 10
) -> DataFrame:
    """Streaming LEADERBOARD: unwindowed stateful per-user counts
    (built-in streaming aggregate, update mode — per-key state only,
    no windows to expire) drained with availableNow, then the final
    top-``k`` by (count desc, user_id asc) with each user's share of
    the total. The live-dashboard "most active entities right now"
    monitor; batch-equivalent by construction on a bounded feed, so
    the oracle is the plain groupBy-count top-k over the same events
    (update mode re-emits a user's row on every increase — the
    terminal MAX per user IS the final count).

    At scale: state is one long per user (the streaming agg's own
    store); the rank runs post-drain over the users-sized frame. A
    true unbounded deployment would snapshot the counts table
    periodically instead of ranking in-stream — the same shape this
    takes with availableNow."""
    from pyspark.sql import Window

    stream = events_stream(spark, events_dir)
    counts = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    final = (
        drain(counts, "update")
        .groupBy("user_id")
        .agg(F.max("n_events").cast("bigint").alias("n_events"))
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wq = Window.orderBy(F.col("n_events").desc(), F.col("user_id").asc())
    return (
        final.withColumn("_tot", F.sum("n_events").over(tot))
        .withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select(
            "user_id",
            "n_events",
            F.expr(
                "round(CAST(n_events AS DOUBLE)"
                " / CAST(_tot AS DOUBLE), 6)"
            ).alias("share"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def msprt_stream(
    spark: SparkSession, events_dir: str, alpha: float = 0.05
) -> DataFrame:
    """Streaming mSPRT experiment monitor: the always-valid sequential
    A/B readout (``operators.experiments.msprt_monitor``) maintained ON
    the feed — per-(day, arm) partial sums run as an UPDATE-mode
    stateful aggregate (per-key running count/sum/sum-of-squares
    state, the exact partials the batch path computes per day), the
    drained sink keeps each key's terminal row, and the shared
    ``msprt_walk`` turns the day-count-sized result into the λ / p
    sequence. The experimenter's daily peek IS the streaming output —
    which is the whole point of an always-valid p.

    Terminal-row rule: update mode re-emits a key on every increase;
    count, Σ value and Σ value² are all strictly increasing BECAUSE
    values are non-negative, so the per-key MAX of each column is the
    terminal row — the ``topk_users_stream`` batch-equivalence
    argument. A negative value would make the running sums
    non-monotone and silently break that equivalence, so the plan
    ENFORCES the precondition with an in-plan ``raise_error`` guard
    (fail loudly, never diverge silently from the batch oracle) — at
    the AGGREGATE level (r12): the streaming state carries min(v) per
    key and the terminal select trips the guard if any key ever saw a
    negative, one branch per (day, arm) key instead of a per-row CASE
    in the hot path (the per-row form cost ~0.3s/run at sf0.1).
    Oracle: the batch MSPRT_Q must match exactly.

    State is bounded by days × 2 arms keys; at 100 TB the same plan
    runs with a watermark on the day window to expire closed days —
    kept unwatermarked here so the drained availableNow run is
    bit-equivalent to batch."""
    agg = _msprt_partials(events_stream(spark, events_dir))
    return _msprt_readout(drain(agg, "update", 16), alpha)


def _msprt_partials(stream: DataFrame) -> DataFrame:
    """The per-(day, arm) running partial sums shared by
    ``msprt_stream`` and its checkpoint-recovery proof — see the
    former's docstring for the decimal-exactness and min(v)-guard
    arguments."""
    t12 = "floor(({x}) * 1e12) / 1e12"
    dsum = "sum(CAST(" + t12 + " AS DECIMAL(32,12)))"
    armed = stream.select(
        F.to_date(F.col("ts")).alias("day"),
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 1),"
            " 16, 10) AS INT) % 2"
        ).alias("arm"),
        F.expr("CAST(value AS DOUBLE)").alias("v"),
    )
    return armed.groupBy("day", "arm").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("cnt"),
        F.expr(dsum.format(x="v")).alias("s"),
        F.expr(dsum.format(x="v * v")).alias("q"),
        F.min("v").alias("mn"),
    )


def _msprt_readout(drained: DataFrame, alpha: float) -> DataFrame:
    """Terminal-row reduce (per-key MAX of the monotone partials, with
    the one-branch-per-key non-negativity guard) + daily pivot +
    ``msprt_walk`` — shared by ``msprt_stream`` and the recovery
    proof."""
    from ..operators import experiments

    terminal = drained.groupBy("day", "arm").agg(
        F.max("cnt").alias("cnt"),
        F.max("s").alias("s"),
        F.max("q").alias("q"),
        F.min("mn").alias("mn"),
    ).select(
        "day",
        "arm",
        # the monotonicity precondition, checked once per key: any
        # negative value anywhere makes the terminal-MAX drain unsound
        F.when(
            F.col("mn") >= 0, F.col("cnt")
        ).otherwise(
            F.expr(
                "CAST(raise_error('msprt_stream: negative value breaks"
                " the terminal-row monotonicity rule') AS BIGINT)"
            )
        ).alias("cnt"),
        "s",
        "q",
    )
    daily = terminal.groupBy("day").agg(
        F.sum(F.when(F.col("arm") == 1, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("d_n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("s"))).alias("d_s1"),
        F.sum(F.when(F.col("arm") == 1, F.col("q"))).alias("d_q1"),
        F.sum(F.when(F.col("arm") == 0, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("d_n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("s"))).alias("d_s0"),
        F.sum(F.when(F.col("arm") == 0, F.col("q"))).alias("d_q0"),
    )
    return experiments.msprt_walk(daily, alpha)


def msprt_recovery(
    spark: SparkSession, events_full: DataFrame, alpha: float = 0.05
) -> DataFrame:
    """CHECKPOINT-RECOVERY proof for the BUILT-IN streaming-aggregation
    state store (r11 verdict item 4): ``stateful_totals_recovery``
    already proves restart for the ``applyInPandasWithState``
    user-defined-state path; the update-mode ``groupBy().agg()``
    operators (msprt_stream, stream_topk_users, stream_p95, stream_hll
    ...) keep their state in Spark's OWN aggregation state store,
    whose serialization/restore path is entirely different code — this
    drives the msprt partial sums across a genuine QUERY RESTART.

    Protocol (the stateful_totals_recovery one, verbatim): the feed
    splits on event_id parity; phase 1 runs availableNow with a
    checkpoint and TERMINATES (partials survive only in the state
    store); phase 2 lands and a NEW query starts from the same
    checkpoint — source offsets skip file 1, state reloads, only file
    2 processes ON TOP of the recovered (day, arm) sums. The sink is
    ``foreachBatch`` appending each micro-batch's update rows to
    parquet (the file sink proper refuses update mode; foreachBatch
    IS checkpoint-integrated and is the production update-mode sink
    pattern), and the terminal per-key MAX absorbs any at-least-once
    replay. Oracle: the batch MSPRT_Q — a lost-state restart would
    carry phase-2-only counts for keys spanning the boundary (almost
    all of them under the parity split) and hash-mismatch by
    construction.

    Returns the msprt_stream row shape; the result is
    localCheckpoint-materialized (day-count-sized) before the temp
    workspace is deleted, and pinned to the query scope."""
    import os
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="spark_graft_msprt_rec_")
    try:
        src = os.path.join(work, "src")
        ckpt = os.path.join(work, "ckpt")
        sink = os.path.join(work, "sink")
        os.makedirs(src)
        os.makedirs(sink)

        def _append(bdf: DataFrame, _bid: int) -> None:
            bdf.write.mode("append").parquet(sink)

        for i in (0, 1):
            _land_feed_file(
                spark,
                work,
                src,
                events_full.filter(F.col("event_id") % 2 == i),
                f"phase{i}.parquet",
            )
            agg = _msprt_partials(events_stream(spark, src))
            _run_available_now(
                spark,
                agg.writeStream.outputMode("update")
                .foreachBatch(_append)
                .option("checkpointLocation", ckpt),
                16,
            )
        return pin_for_query(
            _msprt_readout(spark.read.parquet(sink), alpha).localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def histogram_p95_stream(
    spark: SparkSession,
    events_dir: str,
    width: float = 25.0,
    n_buckets: int = 20,
) -> DataFrame:
    """Streaming PERCENTILE monitor on constant-size state: per
    (event_type, fixed-width value bucket) counts maintained as an
    update-mode streaming aggregate (state = types × ``n_buckets``
    longs — the reason production latency/value monitors ship
    histogram percentiles, never exact sorts), drained with
    availableNow, then the exact histogram p95 per type: the smallest
    bucket whose cumulative count reaches ceil(0.95·n), computed as
    the INTEGER target (19n + 19) DIV 20 — no float percentile math
    anywhere.

    Update mode re-emits a cell on every increase, so the terminal
    MAX per cell IS the final count (the topk_users_stream argument),
    and the drained table is bit-equal to the batch bucketing — the
    oracle is the same histogram + target rule over the same events.

    Returns (event_type, n, p95_bucket, bucket_lo, bucket_hi,
    cum_at_bucket)."""
    from pyspark.sql import Window

    stream = events_stream(spark, events_dir)
    cells = stream.select(
        "event_type",
        F.least(
            F.greatest(
                F.floor(F.col("value") / F.lit(width)), F.lit(0)
            ),
            F.lit(n_buckets - 1),
        )
        .cast("int")
        .alias("bucket"),
    ).groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    final = (
        drain(cells, "update")
        .groupBy("event_type", "bucket")
        .agg(F.max("cnt").cast("bigint").alias("cnt"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    staged = final.select(
        "event_type",
        "bucket",
        F.sum("cnt").over(wcum).cast("bigint").alias("cum"),
        F.sum("cnt").over(wall).cast("bigint").alias("n"),
    ).withColumn("target", F.expr("(19 * n + 19) DIV 20"))
    pick = F.row_number().over(
        Window.partitionBy("event_type").orderBy("bucket")
    )
    hit = staged.filter(F.col("cum") >= F.col("target")).withColumn(
        "rk", pick
    )
    return hit.filter(F.col("rk") == 1).select(
        "event_type",
        "n",
        F.col("bucket").alias("p95_bucket"),
        (F.col("bucket") * F.lit(width)).alias("bucket_lo"),
        ((F.col("bucket") + 1) * F.lit(width)).alias("bucket_hi"),
        F.col("cum").alias("cum_at_bucket"),
    )


def hll_stream(
    spark: SparkSession,
    events_dir: str,
    events_batch: DataFrame,
    col: str = "user_id",
    p: int = 8,
) -> DataFrame:
    """STREAMING HyperLogLog: the m = 2^p register table maintained as
    update-mode stream state (register = MAX rho — monotone, so the
    terminal MAX per index IS the final register; constant-size state
    on an unbounded feed, the entire reason HLL is the on-feed
    distinct sketch), drained with availableNow and fed into the SAME
    estimator tail as the batch ``sketches.hll_distinct`` — drained
    registers are bit-equal to the batch build, so this shares
    HLL_DISTINCT_Q verbatim (the cms_incremental precedent). The
    expression texts below mirror sketches.hll_distinct and must
    change together (cited there; kept inline so the batch operator's
    plan — and its driver-window slot — stays untouched).

    ``events_batch`` supplies only the exact-count column the report
    carries for the error readout (production would drop it).

    Returns the same one-row shape as hll_distinct."""
    m = 2**p
    wbits = 32 - p
    stream = events_stream(spark, events_dir)
    h32 = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    s_regs = (
        stream.select(h32.alias("h32"))
        .select(
            F.shiftright(F.col("h32"), wbits).alias("idx"),
            (F.col("h32").bitwiseAND(F.lit((1 << wbits) - 1))).alias(
                "w"
            ),
        )
        .select(
            "idx",
            F.when(F.col("w") == 0, F.lit(wbits + 1))
            .otherwise(F.lit(wbits + 1) - F.length(F.bin(F.col("w"))))
            .alias("rho"),
        )
        .groupBy("idx")
        .agg(F.max("rho").alias("reg"))
    )
    regs = (
        drain(s_regs, "update")
        .groupBy("idx")
        .agg(F.max("reg").alias("reg"))
    )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    sketch = regs.agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("z_used"),
    ).select(
        F.lit(m).alias("m"),
        F.col("n_used").cast("long").alias("n_used"),
        (
            F.col("z_used")
            + (F.lit(m) - F.col("n_used")) * F.lit(1.0)
        ).alias("_z"),
        (F.lit(m) - F.col("n_used")).cast("double").alias("_v"),
    )
    exact = (
        events_batch.agg(
            F.count_distinct(F.col(col)).alias("exact_distinct")
        )
        .scalar()
        .cast("long")
    )
    est_raw = (
        F.lit(alpha) * F.lit(float(m)) * F.lit(float(m)) / F.col("_z")
    )
    est = F.when(
        (est_raw <= F.lit(2.5 * m)) & (F.col("_v") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("_v")),
    ).otherwise(est_raw)
    return sketch.select(
        "m",
        "n_used",
        F.round(est_raw, 6).alias("raw_estimate"),
        F.round(est, 6).alias("estimate"),
        exact.alias("exact_distinct"),
        F.round(F.abs(est - exact) / exact, 6).alias("rel_error"),
    )


def langid_mix_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """STREAMING language-mix monitor over a documents feed: running
    counts per predicted language (the n-gram stopword-density
    heuristic — ``functions.texttools.lang_id``, the same expression
    the batch confusion matrix uses), the on-ingest view a corpus
    curator watches to catch a mix shift before it lands in a
    training snapshot.

    Shape: the predicted label is a pure projection (no UDF), so the
    stream is ONE update-mode groupBy with |langs|+1 rows of state —
    constant regardless of feed size. Counts are monotone under
    update-mode re-emission, so the terminal MAX per label after an
    availableNow drain IS the final count (the hll_stream/cms
    precedent), making the batch twin an exact shared oracle. The
    parquet source declares only the ``text`` column — projection
    pushdown at the scan, the other document columns are never read.

    Returns (pred, n, share) — share of drained docs per label."""
    from ..functions import texttools

    stream = (
        spark.readStream.schema("text string")
        .format("parquet")
        .load(docs_dir)
    )
    counts = stream.groupBy(
        texttools.lang_id(F.col("text")).alias("pred")
    ).agg(F.count(F.lit(1)).alias("n"))
    final = (
        drain(counts, "update")
        .groupBy("pred")
        .agg(F.max("n").cast("bigint").alias("n"))
    )
    total = final.agg(F.sum("n").alias("t")).scalar().cast("bigint")
    return final.select(
        "pred",
        "n",
        (F.col("n").cast("double") / total.cast("double")).alias("share"),
    )


def moments_stream(
    spark: SparkSession,
    events_dir: str,
    unit: int = 1000,
) -> DataFrame:
    """STREAMING higher-moment monitor: per event type, the exact
    DECIMAL power sums S1..S4 of the milli-quantized value maintained
    as |event_types| rows of update-mode state — constant on an
    unbounded feed — then the SAME fixed double assembly as the batch
    ``profiling.moments_profile``, so this shares MOMENTS_Q verbatim
    (the hll_stream/cms precedent).

    Drain rule: sums of SIGNED values are not monotone, so the
    terminal-MAX drain the count sketches use would be wrong here —
    instead every emitted state row carries its row count n (strictly
    increasing per key on every update), and the drain takes
    ``max_by(s_k, n)`` per key: the LATEST emitted state, regardless
    of sum direction. The parquet source declares only
    (event_type, value) — projection pushdown at the scan.

    Returns the moments_profile shape (event_type, n, mean, std,
    skewness, kurtosis_excess)."""
    from ..operators import profiling

    stream = events_stream(spark, events_dir).select(
        "event_type", "value"
    )
    s_agg = profiling.moments_power_sums(stream, "value", unit)
    latest = (
        drain(s_agg, "update")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.max_by("s1", "n").alias("s1"),
            F.max_by("s2", "n").alias("s2"),
            F.max_by("s3", "n").alias("s3"),
            F.max_by("s4", "n").alias("s4"),
        )
    )
    return profiling.moments_assembly(latest, unit)
