"""Declarative data-quality checks (the Deequ/dbt-tests pattern):
constraints compile to aggregate EXPRESSIONS evaluated in ONE pass
over the table — at 100 TB you cannot afford a scan per rule, so every
row-level rule rides the same aggregation; only referential integrity
needs its own (anti-join) pass, keyed and co-partitionable.

Output contract: one row per rule, ``(rule, violations)`` — zero means
the expectation holds; a pipeline gate thresholds on it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def not_null(col: str) -> tuple[str, Column]:
    return f"not_null({col})", F.sum(F.col(col).isNull().cast("long"))


def in_range(col: str, lo: float, hi: float) -> tuple[str, Column]:
    c = F.col(col)
    return (
        f"in_range({col},{lo},{hi})",
        F.sum(((c < lo) | (c > hi)).cast("long")),
    )


def accepted_values(col: str, values: list) -> tuple[str, Column]:
    return (
        f"accepted_values({col})",
        F.sum((~F.col(col).isin(values)).cast("long")),
    )


def unique(col: str) -> tuple[str, Column]:
    """Violations = surplus rows beyond one per distinct value."""
    return f"unique({col})", F.count(F.col(col)) - F.count_distinct(F.col(col))


def run_checks(
    df: DataFrame,
    rules: list[tuple[str, Column]],
    ref_integrity: list[tuple[str, DataFrame, str]] = (),
) -> DataFrame:
    """Evaluate all row-level ``rules`` in one aggregation pass, plus
    one anti-join per ``(child_col, parent_df, parent_col)`` entry
    counting orphaned child rows. Returns (rule, violations)."""
    agg_row = df.agg(
        *[expr.cast("long").alias(f"_r{i}") for i, (_n, expr) in enumerate(rules)]
    )
    out = agg_row.unpivot(
        ids=[],
        values=[f"_r{i}" for i in range(len(rules))],
        variableColumnName="_slot",
        valueColumnName="violations",
    )
    name_map = F.create_map(
        *[
            x
            for i, (n, _e) in enumerate(rules)
            for x in (F.lit(f"_r{i}"), F.lit(n))
        ]
    )
    checked = out.select(
        name_map[F.col("_slot")].alias("rule"), F.col("violations")
    )
    for child_col, parent, parent_col in ref_integrity:
        orphans = (
            df.select(F.col(child_col)).filter(F.col(child_col).isNotNull())
            .join(
                parent.select(F.col(parent_col).alias(child_col)),
                child_col,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("violations"))
            .select(
                F.lit(f"ref_integrity({child_col}->{parent_col})").alias("rule"),
                "violations",
            )
        )
        checked = checked.unionByName(orphans)
    return checked


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    snapshot of a numeric column — the standard drift monitor in front
    of retraining triggers (PSI < 0.1 stable, 0.1-0.25 moderate,
    > 0.25 shifted). Bins are ``n_bins`` equal-width buckets over the
    REFERENCE min/max (drift relative to what the model saw), with
    out-of-range current values clamped into the edge bins; bin
    proportions are Laplace-smoothed (+0.5) so empty bins contribute a
    finite, defined term instead of ln(0).

    Scale shape: THREE scans of the fact tables total — one eager
    min/max aggregate over the reference (two doubles to the driver,
    the z-order-writer precedent: model-parameter-scale, inlined as
    literals so the bucket expression is pure and every Column
    reference doesn't re-embed a scalar-subquery scan — the first
    draft's scalar() min/max re-planned the reference scan 30+ times),
    then one map-only bucket + groupBy pass per side onto at most
    ``n_bins`` keys. The n_bins-row bin table is persisted and the
    grand totals are scalar subqueries over THAT cache, not the facts.

    Returns one row per bin: (bin, n_ref, n_cur, p_ref, p_cur,
    psi_term), 6-dp-rounded doubles; total PSI = sum(psi_term)."""
    mm = ref.agg(
        F.min(F.col(value_col).cast("double")).alias("lo"),
        F.max(F.col(value_col).cast("double")).alias("hi"),
    ).first()
    # domain guards: an empty reference has no min/max and a constant
    # column gives width 0 — both would otherwise surface far from the
    # cause (TypeError on None here, NULL/NaN bins at compare time)
    if mm[0] is None or mm[1] is None:
        raise ValueError(
            f"psi_drift: reference has no non-null '{value_col}' values"
        )
    lo, hi = float(mm[0]), float(mm[1])
    if hi == lo:
        raise ValueError(
            f"psi_drift: reference '{value_col}' is constant ({lo!r}); "
            "equal-width binning over [min, max] is undefined"
        )
    width = (hi - lo) / float(n_bins)  # same IEEE double as the twin's

    def bucketed(df: DataFrame, alias: str) -> DataFrame:
        b = F.floor((F.col(value_col).cast("double") - F.lit(lo)) / F.lit(width))
        b = F.least(F.greatest(b, F.lit(0)), F.lit(n_bins - 1))
        return (
            df.select(b.cast("int").alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(alias))
        )
    joined = (
        bucketed(ref, "n_ref")
        .join(bucketed(cur, "n_cur"), "bin", "full_outer")
        .select(
            "bin",
            F.coalesce(F.col("n_ref"), F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce(F.col("n_cur"), F.lit(0)).cast("bigint").alias("n_cur"),
        )
    )
    return psi_score_bins(joined, n_bins)


def psi_score_bins(joined: DataFrame, n_bins: int = 10) -> DataFrame:
    """The smoothing + ln-term scoring over a joined (bin, n_ref,
    n_cur) table — shared by the batch monitor above and the streaming
    one (``streaming.events.psi_drift_stream``), so the two can never
    diverge on the formula. Persists the n_bins-row table; the grand
    totals are scalar subqueries over that cache, not the facts."""
    joined = joined.persist()
    n_r = joined.agg(F.sum("n_ref").alias("t")).scalar().cast("double")
    n_c = joined.agg(F.sum("n_cur").alias("t")).scalar().cast("double")
    p_ref = (F.col("n_ref") + F.lit(0.5)) / (n_r + F.lit(0.5 * n_bins))
    p_cur = (F.col("n_cur") + F.lit(0.5)) / (n_c + F.lit(0.5 * n_bins))
    return joined.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


def l_diversity(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str, l: int = 2
) -> DataFrame:
    """L-diversity screen — the governance check k-anonymity misses:
    a quasi-identifier combination can be shared by many rows (k-safe)
    while every one of them carries the SAME sensitive value, so
    membership alone discloses the attribute. Each combination needs
    at least ``l`` distinct sensitive values. One groupBy on the quasi
    columns with an exact distinct on the sensitive attribute
    (combination-cardinality result, like ``k_anonymity``; at extreme
    cardinality swap count_distinct for approx_count_distinct and keep
    the same contract).

    Returns one row per observed combination: (quasi_cols..., n,
    n_sensitive, at_risk) with at_risk = n_sensitive < l."""
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(sensitive_col)).alias("n_sensitive"),
        )
        .select(
            *quasi_cols,
            F.col("n").cast("bigint").alias("n"),
            F.col("n_sensitive").cast("bigint").alias("n_sensitive"),
            (F.col("n_sensitive") < l).alias("at_risk"),
        )
    )


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """T-closeness screen (Li, Li & Venkatasubramanian, ICDE 2007) —
    the third rung of the release-governance ladder: a class can be
    k-anonymous AND l-diverse yet still leak if its sensitive-value
    DISTRIBUTION diverges from the table's (e.g. one job/marital cell
    holding only the oldest ages). For an ORDERED sensitive attribute
    the paper's Earth Mover's Distance has the closed ordered form
    EMD(Q, P) = (1/(m-1)) * sum_i |cumsum_i(q - p)| over the m global
    values — pure cumulative-window algebra, no LP solve.

    Scale shape: three groupBys (global value histogram, class sizes,
    class × value cells — all map-side combined); the dense class ×
    value grid comes from a broadcast cross join against the GLOBAL
    value histogram (m rows — model-parameter scale), never against
    the data; the cumulative walk partitions by class (parallel); the
    two table totals enter as uncorrelated scalar subqueries.

    Returns one row per class: (quasi_cols..., n, emd, at_risk) with
    emd rounded 6dp and at_risk = emd > t."""
    from pyspark.sql import Window

    s = F.col(sensitive_col)
    n_total = df.agg(
        F.count(F.lit(1)).cast("double").alias("n")
    ).scalar()
    vals = (
        df.groupBy(s.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_nv"))
        .select("_v", (F.col("_nv") / n_total).alias("_p"))
    )
    m = vals.agg(F.count(F.lit(1)).cast("double").alias("m")).scalar()
    classes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    cells = df.groupBy(*quasi_cols, s.alias("_v")).agg(
        F.count(F.lit(1)).cast("double").alias("_ncv")
    )
    grid = (
        classes.join(F.broadcast(vals))
        .join(cells, [*quasi_cols, "_v"], "left")
        .select(
            *quasi_cols,
            "n",
            "_v",
            "_p",
            (F.coalesce(F.col("_ncv"), F.lit(0.0)) / F.col("n").cast("double")).alias("_q"),
        )
    )
    wc = Window.partitionBy(*quasi_cols).orderBy("_v")
    # the running sum is order-sensitive in IEEE-754; the repo-wide
    # cross-engine ladder applies: quantize each step to 12dp, walk in
    # DECIMAL (exact, accumulation-order-independent), 6dp at the end
    walked = grid.withColumn(
        "_cum",
        F.sum(
            F.round(F.col("_q") - F.col("_p"), 12).cast("decimal(32,12)")
        ).over(wc),
    )
    return (
        walked.groupBy(*quasi_cols, "n")
        .agg(
            # m == 1 means every row shares one sensitive value: all
            # distributions are identical by definition (EMD 0), and
            # the (m-1) normalizer would divide by zero under ANSI
            F.when(m > F.lit(1.0), F.round(
                F.sum(F.abs(F.col("_cum"))).cast("double")
                / (m - F.lit(1.0)),
                6,
            )).otherwise(F.lit(0.0)).alias("emd")
        )
        .select(
            *quasi_cols,
            "n",
            "emd",
            (F.col("emd") > F.lit(t)).alias("at_risk"),
        )
    )


def k_anonymity(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """K-anonymity screen over a quasi-identifier combination — the
    governance check before releasing a dataset: any combination
    shared by fewer than ``k`` rows can re-identify individuals and
    must be generalized or suppressed. One groupBy on the quasi
    columns (map-side combine; the combination cardinality, not the
    row count, reaches the reducer).

    Returns one row per observed combination: (quasi_cols..., n,
    at_risk) with at_risk = n < k."""
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *quasi_cols,
            F.col("n").cast("bigint").alias("n"),
            (F.col("n") < k).alias("at_risk"),
        )
    )


# ------------------------------------------------ differential privacy

# Inverse-CDF Laplace noise from a uniform u in (0,1) — formula text
# shared verbatim with the DuckDB twin; every literal is CAST to
# DOUBLE so both engines run the identical IEEE-754 tree. The uniform
# itself comes from the group key's md5 prefix (engine-specific
# syntax, same 32-bit integer), making the "noise" a deterministic,
# seedable function of the released cell — reproducible releases and
# hash-checkable tests; swap the hash for a keyed PRF in production.
DP_U = "CAST({h32} AS DOUBLE) / CAST(4294967296 AS DOUBLE)"
DP_NOISE = (
    "CASE WHEN u - CAST(0.5 AS DOUBLE) >= CAST(0 AS DOUBLE)"
    " THEN -({b}) * ln(CAST(1 AS DOUBLE)"
    "      - CAST(2 AS DOUBLE) * (u - CAST(0.5 AS DOUBLE)))"
    " ELSE ({b}) * ln(CAST(1 AS DOUBLE)"
    "      + CAST(2 AS DOUBLE) * (u - CAST(0.5 AS DOUBLE))) END"
)


def dp_counts(
    events: DataFrame,
    epsilon: float = 1.0,
    group_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Differentially-private histogram release: per
    (group, day) event counts with Laplace(1/epsilon) noise and
    non-negativity post-processing — the governance sibling of
    ``k_anonymity``/``l_diversity`` (those gate what may be released;
    this is the release mechanism itself, the count side of a
    training-data pipeline's privacy budget).

    The noise is drawn by inverse-CDF from a uniform derived from the
    cell key's md5 prefix: deterministic given the key, so releases
    are reproducible and cross-engine checkable (the production
    hardening is one swap — a keyed PRF over a secret seed — that
    changes no plan shape). Epsilon is per-release; the true count and
    absolute error columns are the AUDIT half of the report (drop them
    in the published artifact).

    Scale shape (100 TB): one map-side-combined groupBy to cells, then
    map-only noise arithmetic on the (group × day)-sized aggregate.
    Nothing downstream of the aggregation scales with data volume.

    Returns (grp, day, true_n, noise, released_n, abs_err, epsilon),
    ordered by grp, day."""
    b = f"CAST({1.0 / epsilon!r} AS DOUBLE)"
    cells = events.groupBy(
        F.col(group_col).alias("grp"),
        F.to_date(F.col(ts_col)).alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
    keyed = cells.withColumn(
        "u",
        F.expr(
            DP_U.format(
                h32="CAST(conv(substring(md5(concat(grp, '|',"
                " CAST(day AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            )
        ),
    )
    noised = keyed.withColumn(
        "noise", F.expr(f"round({DP_NOISE.format(b=b)}, 6) + 0.0")
    )
    released = noised.withColumn(
        "released_n",
        F.expr(
            "CAST(greatest(CAST(0 AS BIGINT),"
            " CAST(round(CAST(true_n AS DOUBLE) + noise, 0) AS BIGINT))"
            " AS BIGINT)"
        ),
    )
    return released.select(
        "grp",
        # ISO string, not DATE: engines' client layers render dates
        # differently (pandas upcasts DuckDB DATE to midnight
        # datetimes), and lexicographic ISO order == chronological
        F.col("day").cast("string").alias("day"),
        "true_n",
        "noise",
        "released_n",
        F.expr(
            "round(abs(CAST(released_n AS DOUBLE)"
            " - CAST(true_n AS DOUBLE)), 6)"
        ).alias("abs_err"),
        F.lit(float(epsilon)).alias("epsilon"),
    ).orderBy("grp", "day")


def benford_first_digit(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-significant-digit audit (Newcomb 1881,
    Benford 1938; Nigrini's fraud-screen use): the leading-digit
    distribution of an organically-grown monetary column should track
    log10(1 + 1/d) — a synthetic, capped, or fabricated feed shows up
    as a bulge the chi-square column localizes to its digit.

    Shape: one map-side projection (first nonzero digit via regexp on
    the decimal rendering — no log10, whose boundary behaviour near
    powers of ten differs subtly between engines) + a 9-bucket groupBy
    — constant-size shuffle at any scale, the sketch-family shape. The
    digit frame left-joins a literal 1-9 spine so absent digits emit
    n=0 rows, and the grand total rides a 9-row window.

    Expected probabilities are driver-computed literals (repr
    round-trips), chi2 terms (n_d − N·p_d)²/(N·p_d) are the same IEEE
    expression in the DuckDB twin. Returns one row per digit 1-9:
    (digit, n, frac, expected_p, chi2_term), fractions 6 dp."""
    import math

    from pyspark.sql import Window

    ps = [math.log10(1.0 + 1.0 / d) for d in range(1, 10)]
    parr = F.array(*[F.lit(float(x)) for x in ps])
    spark = df.sparkSession
    counts = (
        df.select(
            F.regexp_extract(F.col(col).cast("string"), "[1-9]", 0).alias(
                "digit"
            )
        )
        .filter(F.col("digit") != "")
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = spark.range(1, 10).select(
        F.col("id").cast("string").alias("digit")
    )
    base = spine.join(counts, "digit", "left").select(
        F.col("digit").cast("int").alias("digit"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
    )
    tot = F.sum("n").over(Window.partitionBy())
    exp_p = F.element_at(parr, F.col("digit"))
    expected_n = tot.cast("double") * exp_p
    # try_divide: NULL fractions and chi2 terms when no value has a
    # digit, as the DuckDB twin's x / 0.0 gives (a plain divide raises
    # DIVIDE_BY_ZERO under ANSI)
    return base.select(
        "digit",
        "n",
        F.round(F.try_divide(F.col("n").cast("double"), tot.cast("double")), 6).alias("frac"),
        F.round(exp_p, 6).alias("expected_p"),
        F.round(
            F.try_divide(
                (F.col("n").cast("double") - expected_n)
                * (F.col("n").cast("double") - expected_n),
                expected_n,
            ),
            6,
        ).alias("chi2_term"),
    )


def emb_dim_psi(
    emb: DataFrame,
    n_bins: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-DIMENSION Population Stability Index over an embedding
    column — the vector-space companion to ``psi_drift``: split the
    corpus into two deterministic halves (even/odd ids — the snapshot
    self-drift screen; swap any group predicate in unchanged) and
    score each embedding dimension's distribution shift. The readout
    that localizes "the new encoder batch moved" to specific
    dimensions before a retraining/ANN-rebuild decision.

    Same parity discipline as psi_drift: ``n_bins`` equal-width bins
    over the REFERENCE (even) half's per-dim min/max — pulled to the
    driver as 2·dim doubles (model-parameter scale, the spine
    precedent) and re-broadcast as literal maps so the bucket
    expression is pure; out-of-range current values clamp into edge
    bins; Laplace +0.5 smoothing; per-bin terms 12-dp-rounded and
    DECIMAL-summed per dim (order-independent), psi 6 dp.

    Scale shape: ONE posexplode pass (map-only), one (dim, bin,
    side) groupBy onto dim·n_bins keys, dim-keyed joins of the tiny
    margin frames — no windows, no NLJs, nothing data-sized after the
    first groupBy.

    Returns (dim, n_ref, n_cur, psi) — one row per dimension."""
    ex = emb.select(
        (F.col(id_col) % 2 == 0).alias("is_ref"),
        F.posexplode(F.col(vec_col)).alias("dim", "xf"),
    ).select("is_ref", "dim", F.col("xf").cast("double").alias("x"))
    mm = {
        int(r["dim"]): (float(r["lo"]), float(r["hi"]))
        for r in ex.filter("is_ref")
        .groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    }
    if not mm:
        raise ValueError("emb_dim_psi: reference half is empty")
    dims = sorted(mm)
    lo_map = F.map_from_arrays(
        F.array(*[F.lit(d) for d in dims]),
        F.array(*[F.lit(mm[d][0]) for d in dims]),
    )
    # width computed driver-side with the same IEEE division the twin
    # runs in SQL; a constant dimension (width 0) maps every value to
    # bin 0 on both sides, so its psi is exactly 0
    w_map = F.map_from_arrays(
        F.array(*[F.lit(d) for d in dims]),
        F.array(
            *[F.lit((mm[d][1] - mm[d][0]) / float(n_bins)) for d in dims]
        ),
    )
    width = w_map[F.col("dim")]
    bucket = F.when(width == 0.0, F.lit(0)).otherwise(
        F.least(
            F.greatest(
                F.floor((F.col("x") - lo_map[F.col("dim")]) / width),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        )
    )
    binned = (
        ex.select("is_ref", "dim", bucket.cast("int").alias("bin"))
        .groupBy("dim", "bin")
        .agg(
            F.sum(F.col("is_ref").cast("bigint"))
            .cast("bigint")
            .alias("n_ref"),
            F.sum((~F.col("is_ref")).cast("bigint"))
            .cast("bigint")
            .alias("n_cur"),
        )
    )
    tots = binned.groupBy("dim").agg(
        F.sum("n_ref").cast("double").alias("t_ref"),
        F.sum("n_cur").cast("double").alias("t_cur"),
    )
    p_ref = (F.col("n_ref") + F.lit(0.5)) / (
        F.col("t_ref") + F.lit(0.5 * n_bins)
    )
    p_cur = (F.col("n_cur") + F.lit(0.5)) / (
        F.col("t_cur") + F.lit(0.5 * n_bins)
    )
    term = F.round(
        (p_cur - p_ref) * F.log(p_cur / p_ref), 12
    ).cast("decimal(26,12)")
    return (
        binned.join(F.broadcast(tots), "dim")
        .select("dim", "n_ref", "n_cur", term.alias("term"))
        .groupBy("dim")
        .agg(
            F.sum("n_ref").cast("bigint").alias("n_ref"),
            F.sum("n_cur").cast("bigint").alias("n_cur"),
            F.round(F.sum("term").cast("double"), 6).alias("psi"),
        )
    )
