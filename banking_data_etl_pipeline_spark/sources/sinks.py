"""Layout-managed sinks: the write-side half of the 100 TB posture.

A table that will be read selectively should be WRITTEN for those
reads: ``zorder_layout_stats`` reports how tightly the Z-curve of two
columns bounds each file's rectangle, and so how many files parquet
min/max statistics skip on a predicate over EITHER column;
``write_bucketed`` bakes a join's hash clustering into the files, so a
join on the bucket key needs no exchange; ``compact`` rewrites a
small-file directory into bounded-size files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# bucket count of every table ``write_bucketed`` stages by default and
# ``register_bucketed`` declares: the catalog spec must match the files
BUCKETS = 8


def zorder_key(a, b, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative int columns,
    JVM-side: bit i of each input lands at bits 2i / 2i+1 of the key.
    Inputs must already be quantized to ``bits`` bits (rank or
    fixed-width bucket them first).

    The expression is 2*bits constant shifts — folded into one
    codegen'd expression, no UDF."""
    key = F.lit(0).cast("long")
    av = a.cast("long")
    bv = b.cast("long")
    for i in range(bits):
        key = (
            key
            + F.shiftleft(F.shiftright(av, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(bv, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def compact(
    spark: SparkSession, path: str, target_rows_per_file: int = 1_000_000
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(n / target_rows_per_file)`` files and atomically swap it in.
    Returns the new file count.

    The small-files problem is the classic slow killer of streaming
    sinks and over-parallel writers (every file costs a task + a
    metadata op per downstream scan); periodic compaction is the
    standard fix. The rewrite is one shuffle-free coalesce when
    shrinking.

    Swap semantics, honestly stated: plain POSIX cannot exchange two
    directories atomically, so there is a sub-millisecond window
    between the two renames in which ``path`` does not exist and a
    concurrent open fails (a reader mid-scan of already-opened files
    is unaffected; it never sees a MIX of layouts). Crash recovery is
    handled at entry instead of pretending the window away: a crash
    inside the window leaves ``path`` missing and ``.old`` intact, and
    the next call restores it; stale ``.old``/``.compact_tmp``
    leftovers from any earlier crash are cleared so reruns cannot fail
    on ENOTEMPTY. Single-compactor discipline assumed (run it from one
    scheduler slot). Readers that cannot tolerate the window need a
    versioned-directory + pointer-file protocol (write ``v<n>``, flip
    the pointer with ``os.replace``) — at the price of pointer-aware
    reads."""
    import math
    import os
    import shutil

    old = path + ".old"
    tmp = path + ".compact_tmp"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)  # crashed inside a previous swap window
    shutil.rmtree(tmp, ignore_errors=True)  # half-written rewrite
    shutil.rmtree(old, ignore_errors=True)  # superseded layout

    df = spark.read.parquet(path)
    n = df.count()
    files = max(1, math.ceil(n / target_rows_per_file))
    df.coalesce(files).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return files


def zorder_layout_stats(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int = 8,
    buckets_log2: int = 4,
) -> DataFrame:
    """The data-skipping proof of a Z-order layout, as a query:
    quantize both cluster columns to ``bits`` bits, interleave
    into the Morton key, split the curve into ``2**buckets_log2``
    FIXED-WIDTH key ranges (deterministic — unlike
    ``repartitionByRange``'s sampled boundaries, so the result is
    oracle-checkable), and report each bucket's bounding rectangle in
    quantized (a, b) space plus its row count.

    Why it matters at 100 TB: each bucket stands for one output file's
    min/max footer stats; the tighter the rectangles, the more files a
    two-predicate scan can skip. The whole computation is one scalar
    min/max pull (model-parameter scale) + one map pass + a groupBy on
    <= 2**buckets_log2 keys — map-side combine collapses every
    partition to a handful of rows before the shuffle.

    Returns (bucket, n_rows, a_min, a_max, b_min, b_max)."""
    mm = df.agg(
        F.min(col_a).alias("a_mn"), F.max(col_a).alias("a_mx"),
        F.min(col_b).alias("b_mn"), F.max(col_b).alias("b_mx"),
    ).collect()[0]
    if None in (mm.a_mn, mm.a_mx, mm.b_mn, mm.b_mx):
        raise ValueError("zorder_layout_stats: empty input or all-NULL "
                         "cluster column — no quantization domain")

    def quantized(c: str, mn, mx) -> F.Column:
        shift = max(0, (int(mx) - int(mn)).bit_length() - bits)
        base = F.coalesce(F.col(c), F.lit(int(mn))).cast("long") - F.lit(int(mn))
        return F.shiftright(base, shift)

    qa = quantized(col_a, mm.a_mn, mm.a_mx)
    qb = quantized(col_b, mm.b_mn, mm.b_mx)
    z = zorder_key(qa, qb, bits)
    bucket = F.shiftright(z, 2 * bits - buckets_log2)
    return (
        df.select(bucket.alias("bucket"), qa.alias("_qa"), qb.alias("_qb"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("_qa").alias("a_min"),
            F.max("_qa").alias("a_max"),
            F.min("_qb").alias("b_min"),
            F.max("_qb").alias("b_max"),
        )
    )


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = BUCKETS,
) -> str:
    """Write ``df`` as a BUCKETED parquet table (hash-clustered into
    ``n_buckets`` files per task-set on ``bucket_col``, sorted within
    buckets) and register it in the catalog — the write-side half of
    the shuffle-free join: two tables bucketed the same way on their
    join key sort-merge-join WITHOUT EXCHANGING EITHER SIDE, because
    the hash-clustering the shuffle would produce is already baked
    into the files. At 100 TB this converts every repeated fact⋈fact
    join on the bucket key from two full-table shuffles into a
    per-bucket streamed merge (AND pre-sorts the merge input); the
    write itself needs NO shuffle either — each task hash-splits its
    rows across its own bucket files.

    Bucket metadata lives in the CATALOG, not the files (a plain
    ``spark.read.parquet`` of the same path would forget the
    clustering and re-shuffle), which is why this writer takes the
    session and returns the table name. Idempotent per session: an
    already-registered ``table`` is reused as-is (the build-once /
    join-many lifecycle, same shape as the prebuilt IVF index)."""
    if spark.catalog.tableExists(table):
        return table
    (
        df.write.format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .mode("overwrite")
        .saveAsTable(table)
    )
    return table


def register_bucketed(
    spark: SparkSession,
    table: str,
    schema,
    path: str,
    bucket_col: str,
) -> str:
    """Register files that ``write_bucketed`` wrote with its default
    ``BUCKETS`` — possibly under another table name, in another
    session, at a directory they were renamed to since — as this
    session's bucketed ``table``. The bucket spec lives in the catalog,
    not the files, so every session declares it again to get the
    exchange-free join; the table is EXTERNAL, so dropping it keeps the
    files. A no-op when ``table`` exists."""
    from ..functions.scoring import sql_name, sql_str

    key = sql_name(bucket_col)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({schema.toDDL()}) USING parquet"
        f" CLUSTERED BY ({key}) SORTED BY ({key}) INTO {BUCKETS} BUCKETS"
        f" LOCATION {sql_str(path)}"
    )
    return table
