"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` (single JVM); the configs below are the
ones that also matter on a real cluster: AQE for runtime re-planning
(skew joins, partition coalescing), shuffle partitions sized to the
parallelism actually available, UTC session time zone so timestamp
semantics match the DuckDB oracle, and Arrow for any Pandas-UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """Half the host's memory, capped at 24g: a local[N] driver is the
    whole engine, but a heap above the host's RAM gets the JVM killed
    by the kernel instead of failing with an OutOfMemoryError."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{min(24 << 10, kb >> 11)}m"


def get_spark(
    app_name: str = "banking_data_etl_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver parquet stores INT64 TIMESTAMP(NANOS), which Spark 4
        # rejects by default (PARQUET_TYPE_ILLEGAL); read as long nanos
        # and convert explicitly in sources.tables.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # \r-progress bars interleave with structured stdout (they
        # truncated the r3 bench metric line); logs are enough locally
        .config("spark.ui.showConsoleProgress", "false")
        # an orderBy(...).limit(n) above this row count sorts and
        # limits instead of running TakeOrderedAndProject, whose
        # priority queue is sized by n (limit 10**9 OOMs a 1g heap on
        # a 1,000-row input)
        .config("spark.sql.execution.topKSortFallbackThreshold", "1000000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Pin session settings that affect value-level parity with the
    DuckDB oracle, on a session we did not create (the driver's).

    Idempotent and cheap. This is the per-query scope: the registry
    wrapper in ``__spark_entry__.queries()`` calls it once before every
    builder, so results are timezone-stable regardless of who built the
    session — and so the PREVIOUS query's pinned frames get released
    (see :func:`pin_for_query`): cached partitions never accumulate
    across a 334-query battery evicting other queries' working sets
    (r13 ADVICE). A builder called directly (``queries.<name>``)
    skips it.
    """
    release_pinned()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


# persisted frames whose lifetime is "this query": the returned plan
# depends on them, so the operator cannot unpersist before returning —
# the NEXT registered query's scope (tune_for_oracle, called by the
# queries() wrapper) releases them. Release is
# correctness-safe by the same argument that makes these persists
# LRU-evictable: the partitionings are deterministic recomputes, and
# consumers read derived values (ranks, knots, maxima), never raw
# partition ids across jobs. Worst case after release is one recompute
# if the old plan is re-executed.
_PINNED: list = []


def pin_for_query(df):
    """Persist ``df`` and register it for end-of-query cleanup.

    CONTRACT (r14 ADVICE): the pin registry is process-global and
    assumes the battery's STRICTLY SEQUENTIAL build-then-consume
    usage — build query N, collect it, then build query N+1 through
    ``queries()``, whose wrapper's ``tune_for_oracle`` releases N's
    pins. Building a second query while a prior query's returned
    DataFrame is still being consumed, or driving queries from
    concurrent threads, unpersists the other query's pinned frames
    mid-flight. That is CORRECTNESS-SAFE (the
    release contract below: deterministic recomputes, derived-value
    consumers) but silently forfeits the cache benefit; a concurrent
    runner should key pins per query and release its own."""
    if not df.is_cached:  # idempotent: _beam_step frames arrive cached
        df.persist()
    _PINNED.append(df)
    return df


def release_pinned() -> None:
    while _PINNED:
        try:
            _PINNED.pop().unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


def fan_out(df):
    """Scale-adaptive parallelism floor ahead of per-row-EXPENSIVE
    stages (Python codecs, tokenize-heavy scans).

    A small input often arrives as a single scan split (one parquet
    row group ≪ maxPartitionBytes), so every narrow operator above it
    — including multi-ms-per-row Arrow codec work — runs on ONE core
    while the rest of the machine idles (guide §2: stragglers/idle
    capacity). Round-robin repartition to ``defaultParallelism`` fixes
    that for the price of shuffling the (small, by construction) rows.

    The fire/skip decision reads the optimizer's SIZE ESTIMATE
    (``optimizedPlan().stats().sizeInBytes`` — pure driver-side plan
    work, no job): fire when the estimate is below
    ``defaultParallelism × maxPartitionBytes``, i.e. when the input
    packs into fewer scan-sized splits than the machine has cores.
    The r16 form probed ``df.rdd.getNumPartitions()``, which under AQE
    FINALIZES the adaptive plan — on an exchange-bearing input that
    EXECUTES every upstream shuffle stage at probe time and then again
    under the real action (r16 ADVICE, medium): curation_pipeline /
    pretrain_export ran their gate+dedup subplans up to 3×. The stats
    probe costs ~10 ms of analysis, never runs a stage, and keeps the
    scale claim structural: a 100 TB input's estimate is always over
    the threshold, so no exchange is ever added at scale. Idempotent:
    a plan already carrying a round-robin ``Repartition`` (an upstream
    fan_out) is left alone. Apply only where per-row work dominates:
    for cheap relational queries the extra exchange would cost more
    than the parallelism buys."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        size = int(plan.stats().sizeInBytes())  # py4j maps BigInt -> int
        # idempotency: "Repartition " is the round-robin logical node's
        # exact prefix ("RepartitionByExpression" — keyed, not ours —
        # does not match it)
        if "Repartition " in plan.toString():
            return df
    except Exception:
        return df
    try:
        split_bytes = int(
            sc._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes")
            )
        )
    except Exception:
        split_bytes = 128 << 20
    return df.repartition(target) if 0 <= size < target * split_bytes else df
