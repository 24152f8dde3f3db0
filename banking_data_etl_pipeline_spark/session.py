"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` (single JVM); the configs below are the
ones that also matter on a real cluster: AQE for runtime re-planning
(skew joins, partition coalescing), shuffle partitions sized to the
parallelism actually available, UTC session time zone so timestamp
semantics match the DuckDB oracle, and Arrow for any Pandas-UDF path.

It also owns every piece of state that crosses queries: the query
scope of the calling thread (``tune_for_oracle`` opens it,
``pin_for_query`` and ``iterate`` add to it, ``release_pinned`` closes
it), the cache owned by the SparkContext (``session_cache``), and
scoped conf changes (``conf_override``).
"""

from __future__ import annotations

import contextlib
import contextvars
import os
from collections.abc import Iterator

from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


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
    """Open a new query scope in the calling thread and pin the session
    settings that affect value-level parity with the DuckDB oracle
    (UTC, ``nanosAsLong``), also on a session that ``get_spark`` did
    not build.

    Idempotent and cheap. The registry wrapper in
    ``__spark_entry__.queries()`` calls it once before every builder.
    It first releases the frames this thread's previous query pinned
    (see :func:`pin_for_query`), so cached partitions never pile up
    across a 334-query battery, and it never touches another thread's
    pins. A builder called directly (``queries.<name>``) skips it.
    """
    release_pinned()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


# the frames the current query pinned. A ContextVar, so every thread
# has its own scope: a new thread starts with an empty context, and a
# pin made in one thread is released only by that thread.
_QUERY_PINS: contextvars.ContextVar[tuple[DataFrame, ...]] = (
    contextvars.ContextVar("query_pins", default=())
)


def pin_for_query(df: DataFrame) -> DataFrame:
    """Keep ``df`` stored (persist a plan; a local checkpoint keeps its
    blocks) until this thread opens its next query scope
    (``tune_for_oracle``) or calls :func:`release_pinned`: the
    returned plan depends on these frames, so the operator cannot
    release them before it returns. Other threads keep their pins. A
    released persist costs one recompute if its plan runs again (the
    partitionings are deterministic, and consumers read derived
    values, never raw partition ids across jobs); a released local
    checkpoint cannot be recomputed, so a frame that reads one works
    only inside the query that built it."""
    if not df.is_cached and _checkpoint_rdd(df) is None:
        df.persist()  # idempotent: _beam_step frames arrive cached
    _QUERY_PINS.set(_QUERY_PINS.get() + (df,))
    return df


def _checkpoint_rdd(df: DataFrame):
    """The RDD holding a local checkpoint's blocks, else None."""
    node = df._jdf.queryExecution().logical()
    return node.rdd() if node.getClass().getSimpleName() == "LogicalRDD" else None


def release(df: DataFrame) -> None:
    """Free ``df``'s blocks: uncache a persisted plan or drop a local
    checkpoint's RDD (which ``DataFrame.unpersist`` and
    ``catalog.clearCache`` leave in place)."""
    rdd = _checkpoint_rdd(df)
    if rdd is not None:
        rdd.unpersist(False)
    if df.is_cached:
        df.unpersist()


def release_pinned() -> None:
    """Close the current thread's query scope: release its pins."""
    pins = _QUERY_PINS.get()
    _QUERY_PINS.set(())
    for df in pins:
        try:
            release(df)
        except Exception:
            pass  # session already stopped — nothing to release


def iterate(
    state: DataFrame, step, rounds: int, *, observe=(), until=None,
    plan_hook=None, stage: str = "round",
) -> tuple[DataFrame, dict | None, bool]:
    """The driver-side loop of every iterative operator. Round ``i``
    builds ``step(state, i, seen)`` (``seen``: the previous round's
    observed values, None in round 0), hands round 0's frame to
    ``plan_hook(stage, df)``, runs one eager ``localCheckpoint`` (round
    k reads a stored frame, not a k-deep plan) and releases the frame
    it replaced. The named ``observe`` aggregates ride that
    checkpoint's job as an ``Observation``: a convergence scalar costs
    no extra action. Stops after ``rounds`` or once ``until(prev_seen,
    seen)`` holds. Returns the last frame, pinned for the query scope,
    its observed values and whether ``until`` stopped the loop."""
    seen, converged = None, False
    for i in range(rounds):
        nxt, obs = step(state, i, seen), Observation()
        if observe:
            nxt = nxt.observe(obs, *observe)
        if plan_hook is not None and i == 0:
            plan_hook(stage, nxt)
        nxt = nxt.localCheckpoint()
        prev, seen = seen, obs.get if observe else None
        release(state)
        state = nxt
        if until is not None and until(prev, seen):
            converged = True
            break
    return pin_for_query(state), seen, converged


def session_cache(spark: SparkSession | SparkContext) -> dict:
    """The cache owned by the SparkContext of ``spark``: one dict,
    stored as an attribute of the context object. No module holds its
    entries, so they go with the context and a new session starts
    with an empty cache. It holds values that are costly to build and
    identical for every query of the session (literal columns,
    prepared plans); keys name their owner, e.g.
    ``("lit", kind, content)``."""
    sc = getattr(spark, "sparkContext", spark)
    return vars(sc).setdefault("_session_cache", {})


@contextlib.contextmanager
def conf_override(spark: SparkSession, key: str, value) -> Iterator[None]:
    """Set the session conf ``key`` to ``value`` for the ``with`` block
    and restore the previous setting (or unset it) at block exit."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


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
