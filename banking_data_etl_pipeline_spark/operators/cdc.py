"""Change-data-capture snapshot diff (the MERGE / SCD-Type-2 change
classification): given yesterday's and today's snapshot of a keyed
table, classify every key as insert / update / delete / unchanged and
carry the old+new values of the tracked columns.

Spark-first shape: one full-outer shuffle join on the key — the
minimal data movement the semantics allow (both sides co-partition on
the key, so with bucketed/pre-partitioned snapshots the exchange
disappears entirely; see sources/sinks.write_bucketed). No window, no
driver-side state. A downstream SCD2 writer appends the 'update' and
'delete' rows with validity timestamps; the classification here is the
scale-critical part.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    cur: DataFrame,
    nxt: DataFrame,
    key: str,
    tracked: list[str],
) -> DataFrame:
    """Full-outer diff of two snapshots on ``key``. Emits one row per
    key present in either snapshot: ``(key, op, <col>_old, <col>_new
    for each tracked col)``. ``op`` is 'insert' (new only), 'delete'
    (old only), 'update' (both, any tracked col differs — null-safe),
    else 'unchanged'.

    Presence is decided by constant marker columns, not the tracked
    columns, so legitimately-null tracked values never masquerade as a
    missing side.

    Sibling of ``reconcile.hash_snapshot_diff``: this is the
    merge-feed shape (CDC ops + payloads, unchanged included); that
    one is the audit shape (hash-only shuffle, differences only).
    """
    left = cur.select(
        F.col(key).alias("_k"),
        F.lit(True).alias("_has_old"),
        *[F.col(c).alias(f"{c}_old") for c in tracked],
    )
    right = nxt.select(
        F.col(key).alias("_k"),
        F.lit(True).alias("_has_new"),
        *[F.col(c).alias(f"{c}_new") for c in tracked],
    )
    joined = left.join(right, "_k", "full_outer")

    changed = F.lit(False)
    for c in tracked:
        changed = changed | ~F.col(f"{c}_old").eqNullSafe(F.col(f"{c}_new"))
    op = (
        F.when(F.col("_has_old").isNull(), F.lit("insert"))
        .when(F.col("_has_new").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    out_cols = [F.col("_k").alias(key), op.alias("op")]
    for c in tracked:
        out_cols += [F.col(f"{c}_old"), F.col(f"{c}_new")]
    return joined.select(*out_cols)


def pit_lookup(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str,
    val_col: str,
    id_cols: list[str] | None = None,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Point-in-time (PIT) lookup against an SCD-Type-2 dimension: each
    fact row gets the dimension value whose validity interval contains
    the fact timestamp — the feature-store join that prevents
    time-travel leakage in training data.

    The naive formulation (``f.key = d.key AND f.ts >= d.from AND
    f.ts < d.to``) multiplies every fact by its key's version count
    before filtering. This is the linear union trick instead (same
    shape as ``relational.asof_last_order``): stack version-start
    events and facts sorted per key, carry the latest version forward
    with ``last(ignoreNulls)`` over an unbounded-preceding window, and
    keep fact rows whose carried ``valid_to`` still covers them — one
    shuffle on the key, no row multiplication, scale-stable for any
    version fan-out. A fact AT a version boundary takes the NEW
    version (dim rows sort before facts at the same instant).

    The carried state is ONE struct ``(val, valid_to)`` per dim row, so
    the common SCD2 open-version convention ``valid_to IS NULL``
    (current version, no end yet) works: a NULL end inside the struct
    is carried with its own version's value (it is not skipped the way
    a bare ``last(valid_to, ignorenulls)`` would skip it) and means
    "covers every later timestamp".

    Returns the fact's (id_cols, key, ts) plus ``val_col`` as
    ``{val_col}_asof`` (NULL where no version covers the timestamp —
    left-join semantics)."""
    from pyspark.sql import Window

    ids = id_cols or []
    ftypes = dict(facts.dtypes)
    dtypes = dict(dim.dtypes)
    ver_type = f"struct<v:{dtypes[val_col]},vto:{dtypes[valid_to]}>"
    dv = dim.select(
        F.col(key),
        F.col(valid_from).alias("_t"),
        F.lit(0).alias("_kind"),
        *[F.lit(None).cast(ftypes[c]).alias(c) for c in ids],
        F.struct(
            F.col(val_col).alias("v"), F.col(valid_to).alias("vto")
        ).alias("_ver"),
    )
    fv = facts.select(
        F.col(key),
        F.col(ts_col).alias("_t"),
        F.lit(1).alias("_kind"),
        *ids,
        F.lit(None).cast(ver_type).alias("_ver"),
    )
    w = (
        Window.partitionBy(key)
        .orderBy("_t", "_kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stacked = dv.unionByName(fv).select(
        key,
        "_t",
        "_kind",
        *ids,
        F.last("_ver", ignorenulls=True).over(w).alias("_cver"),
    )
    covered = F.col("_cver").isNotNull() & (
        F.col("_cver.vto").isNull() | (F.col("_t") < F.col("_cver.vto"))
    )
    return stacked.filter(F.col("_kind") == 1).select(
        *ids,
        key,
        F.col("_t").alias(ts_col),
        F.when(covered, F.col("_cver.v")).alias(f"{val_col}_asof"),
    )
