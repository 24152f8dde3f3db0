"""Exactly-once streaming materialization via ``foreachBatch``: merge
each micro-batch's per-key delta into a keyed parquet state table with
a versioned-directory + pointer-file commit protocol.

This is the production pattern for "stream into a queryable table"
when the sink has no transactional MERGE of its own. Two mechanisms
compose to give exactly-once:

1. **Versioned state + atomic pointer.** Every merge writes a fresh
   ``v<batchId>`` directory and then flips a single ``CURRENT``
   pointer file with ``os.replace`` (atomic on POSIX). Readers resolve
   the pointer, so state is never absent or half-applied: a crash
   mid-write leaves the old version live; superseded versions are
   GC'd only after the flip.
2. **BatchId recorded in the pointer.** ``foreachBatch`` can replay a
   batch whose side effects completed but whose checkpoint commit did
   not (crash between pointer flip and checkpoint write). The pointer
   stores the last-applied batchId; a replayed batch with
   ``batch_id <= last_applied`` is skipped, so the merge is idempotent
   under every crash point — not just the happy path.

Caveat (documented, not handled): pointing a FRESH checkpoint at an
EXISTING state root restarts batch ids at 0, so real new batches would
be skipped as replays. That pairing is operator error (it would
double-count under any scheme); keep checkpoint and state lifecycles
together.

Scale notes: the merge is one key-equi full-outer join per batch —
co-partitioned if the state table is bucketed on the key
(sources/sinks.write_bucketed); totals accumulate in integer MICRO-UNITS
(exact under any batch split, same contract as
events.stateful_user_totals). The commit is a pointer flip, not a
rewrite; the current and immediately-preceding versions are retained
(readers mid-scan of the old version survive a commit) and older
generations are dropped, so storage stays at ~two state copies.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events import events_stream

_POINTER = "CURRENT"


def _read_pointer(state_dir: str) -> tuple[str | None, int]:
    """(live version dir name, last applied batchId); (None, -1) if
    no commit has happened yet."""
    ptr = os.path.join(state_dir, _POINTER)
    if not os.path.exists(ptr):
        return None, -1
    with open(ptr, encoding="utf-8") as f:
        name, bid = f.read().split()
    return name, int(bid)


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Resolve the pointer and read the live state version."""
    name, _ = _read_pointer(state_dir)
    if name is None:
        return spark.createDataFrame([], "user_id long, cnt long, micros long")
    return spark.read.parquet(os.path.join(state_dir, name))


def _merge_batch(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, state_dir: str
) -> None:
    os.makedirs(state_dir, exist_ok=True)
    cur_name, last_bid = _read_pointer(state_dir)
    if batch_id <= last_bid:
        # checkpoint replay of a batch whose pointer flip already
        # landed (crash before the checkpoint commit) — skipping it is
        # what makes the merge exactly-once rather than at-least-once
        return
    if cur_name is None:
        cur = spark.createDataFrame([], "user_id long, cnt long, micros long")
    else:
        cur = spark.read.parquet(os.path.join(state_dir, cur_name))
    delta = (
        batch_df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt_d"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias("micros_d"),
        )
    )
    merged = (
        cur.join(delta, "user_id", "full_outer")
        .select(
            "user_id",
            (F.coalesce("cnt", F.lit(0)) + F.coalesce("cnt_d", F.lit(0))).alias("cnt"),
            (
                F.coalesce("micros", F.lit(0)) + F.coalesce("micros_d", F.lit(0))
            ).alias("micros"),
        )
    )
    vname = f"v{batch_id:012d}"
    # overwrite mode makes the version write itself replay-safe: a
    # half-written v<id> from a pre-flip crash is simply rewritten
    merged.write.mode("overwrite").parquet(os.path.join(state_dir, vname))
    tmp = os.path.join(state_dir, _POINTER + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(f"{vname} {batch_id}")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(state_dir, _POINTER))  # the commit point
    # GC superseded versions post-flip, RETAINING the immediate
    # predecessor: a reader that resolved the old pointer may still be
    # mid-scan of that version (Spark scans open files lazily), so
    # deleting it at commit would fail exactly the readers the
    # pointer protocol promises to protect. Storage stays bounded at
    # ~two state copies; older generations go.
    keep = {vname, cur_name}
    for d in os.listdir(state_dir):
        if d.startswith("v") and d not in keep:
            shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)


def run_upsert_stream(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Drive the events feed (bounded here via availableNow) through
    the upsert sink; returns the materialized state table. Re-running
    with the same checkpoint is a no-op — the checkpoint already marks
    every batch committed, and a replayed batch is additionally
    skipped by the pointer's batchId (see module docstring)."""
    stream = events_stream(spark, events_dir)
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, bid: _merge_batch(spark, bdf, bid, state_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_state(spark, state_dir)
