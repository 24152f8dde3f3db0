"""Experiment-analytics operators: deterministic arm assignment and
CUPED variance-reduced treatment-effect readouts (Deng, Xu, Kohavi &
Walker, "Improving the Sensitivity of Online Controlled Experiments by
Utilizing Pre-Experiment Data", WSDM 2013).

Everything reduces to ONE pass of sufficient statistics — the ols2 /
corr_matrix shape: per-user pre/post metrics from a map-side-combined
groupBy, then a single global aggregation of DECIMAL-exact sums whose
one-row output feeds closed-form doubles. No iteration, no collect,
no per-user output — the report is model-parameter scale regardless
of input volume, which is the 100 TB shape for "score an experiment
over the whole event log".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .relational import ols2_sum_sql
from ..session import fan_out

# Formula text shared verbatim with oracle.CUPED_Q. All inputs are
# exact: n counts are BIGINT, the s* sums are DECIMAL-exact doubles,
# so identical expression trees give bit-identical doubles in both
# engines; only the hash-arm derivation differs in *syntax* per engine
# (Spark conv() vs DuckDB '0x' cast — same md5 nibble, same integer).
CUPED_X = (
    "coalesce(CAST(sum(CASE WHEN {ts} < TIMESTAMP '{cut}'"
    " THEN CAST({v} AS DECIMAL(18,6)) END) AS DOUBLE),"
    " CAST(0 AS DOUBLE))"
)
CUPED_Y = (
    "coalesce(CAST(sum(CASE WHEN {ts} >= TIMESTAMP '{cut}'"
    " THEN CAST({v} AS DECIMAL(18,6)) END) AS DOUBLE),"
    " CAST(0 AS DOUBLE))"
)
CUPED_THETA = "(nn * sxy - sx * sy) / nullif(nn * sxx - sx * sx, 0.0)"
CUPED_DIFF_RAW = (
    "sy1 / nullif(CAST(n1 AS DOUBLE), 0.0)"
    " - sy0 / nullif(CAST(n0 AS DOUBLE), 0.0)"
)
CUPED_DIFF_X = (
    "sx1 / nullif(CAST(n1 AS DOUBLE), 0.0)"
    " - sx0 / nullif(CAST(n0 AS DOUBLE), 0.0)"
)
CUPED_VAR_Y = "(nn * syy - sy * sy) / (nn * nn)"
CUPED_VAR_X = "(nn * sxx - sx * sx) / (nn * nn)"
CUPED_COV = "(nn * sxy - sx * sy) / (nn * nn)"
CUPED_VAR_ADJ = (
    f"({CUPED_VAR_Y}) - ({CUPED_COV}) * ({CUPED_COV})"
    f" / nullif({CUPED_VAR_X}, 0.0)"
)

CUPED_SUM_TERMS = [
    ("x", "sx"),
    ("y", "sy"),
    ("x * x", "sxx"),
    ("x * y", "sxy"),
    ("y * y", "syy"),
    ("CASE WHEN arm = 1 THEN y ELSE CAST(0 AS DOUBLE) END", "sy1"),
    ("CASE WHEN arm = 0 THEN y ELSE CAST(0 AS DOUBLE) END", "sy0"),
    ("CASE WHEN arm = 1 THEN x ELSE CAST(0 AS DOUBLE) END", "sx1"),
    ("CASE WHEN arm = 0 THEN x ELSE CAST(0 AS DOUBLE) END", "sx0"),
]


def cuped_report(
    events: DataFrame,
    cutoff: str = "2024-01-16 00:00:00",
    ts_col: str = "ts",
    user_col: str = "user_id",
    val_col: str = "value",
) -> DataFrame:
    """CUPED A/B readout over an event log: users are deterministically
    hash-split into two arms (md5 nibble parity — stable across runs,
    engines, and re-partitioning), the pre-``cutoff`` per-user metric
    is the covariate x, the post-``cutoff`` metric is the outcome y,
    and the report gives the raw and CUPED-adjusted treatment-effect
    estimates plus the variance-reduction the covariate bought
    (var_adj = var_y - cov²/var_x, the optimal-theta identity).

    Scale shape: groupBy(user) with map-side combine produces one
    (x, y, arm) row per user; a single global aggregation reduces the
    nine DECIMAL-exact sufficient sums to ONE row; every derived
    quantity is closed-form double arithmetic on that row. Degenerate
    inputs (an empty arm, zero covariate variance) surface as NULLs
    through nullif-guarded divisions instead of ANSI-mode division
    errors.

    Returns one row: (n_users, n_treat, n_ctrl, theta, diff_raw,
    diff_cuped, var_y, var_adj, var_reduction_pct)."""
    peru = events.groupBy(F.col(user_col).alias("uid")).agg(
        F.expr(
            CUPED_X.format(ts=ts_col, cut=cutoff, v=val_col)
        ).alias("x"),
        F.expr(
            CUPED_Y.format(ts=ts_col, cut=cutoff, v=val_col)
        ).alias("y"),
    )
    armed = peru.withColumn(
        "arm",
        F.expr(
            "CAST(conv(substring(md5(CAST(uid AS STRING)), 1, 1),"
            " 16, 10) AS INT) % 2"
        ),
    )
    stats = armed.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_users"),
        F.expr("CAST(count(*) AS DOUBLE)").alias("nn"),
        F.expr("CAST(sum(arm) AS BIGINT)").alias("n1"),
        F.expr("CAST(sum(1 - arm) AS BIGINT)").alias("n0"),
        *[F.expr(ols2_sum_sql(t, a)) for t, a in CUPED_SUM_TERMS],
    )
    return stats.select(
        "n_users",
        F.col("n1").alias("n_treat"),
        F.col("n0").alias("n_ctrl"),
        F.expr(f"round({CUPED_THETA}, 6) + 0.0").alias("theta"),
        F.expr(f"round({CUPED_DIFF_RAW}, 6) + 0.0").alias("diff_raw"),
        F.expr(
            f"round(({CUPED_DIFF_RAW}) - ({CUPED_THETA})"
            f" * ({CUPED_DIFF_X}), 6) + 0.0"
        ).alias("diff_cuped"),
        F.expr(f"round({CUPED_VAR_Y}, 6) + 0.0").alias("var_y"),
        F.expr(f"round({CUPED_VAR_ADJ}, 6) + 0.0").alias("var_adj"),
        F.expr(
            f"round(CAST(100 AS DOUBLE) * (CAST(1 AS DOUBLE)"
            f" - ({CUPED_VAR_ADJ}) / nullif({CUPED_VAR_Y}, 0.0)), 6)"
            " + 0.0"
        ).alias("var_reduction_pct"),
    )


# SRM chi-square formula text, shared with oracle.SRM_Q: exact BIGINT
# counts into one fixed double expression.
SRM_CHI2 = (
    "(CAST(n1 AS DOUBLE) - CAST(n_users AS DOUBLE) * CAST(0.5 AS DOUBLE))"
    " * (CAST(n1 AS DOUBLE) - CAST(n_users AS DOUBLE) * CAST(0.5 AS DOUBLE))"
    " / (CAST(n_users AS DOUBLE) * CAST(0.5 AS DOUBLE))"
    " + (CAST(n0 AS DOUBLE) - CAST(n_users AS DOUBLE) * CAST(0.5 AS DOUBLE))"
    " * (CAST(n0 AS DOUBLE) - CAST(n_users AS DOUBLE) * CAST(0.5 AS DOUBLE))"
    " / (CAST(n_users AS DOUBLE) * CAST(0.5 AS DOUBLE))"
)
# 95% critical value of chi-square with 1 dof
SRM_CRIT = "CAST(3.841 AS DOUBLE)"


def srm_check(
    events: DataFrame,
    user_col: str = "user_id",
) -> DataFrame:
    """Sample-ratio-mismatch guard for the hash-armed experiment: a
    chi-square goodness-of-fit of the observed arm sizes against the
    designed 50/50 split — THE first gate on any A/B readout (a
    biased assignment invalidates ``cuped_report`` before any effect
    estimate is worth reading; Fabijan et al., "Diagnosing Sample
    Ratio Mismatch", KDD 2019). Same md5-nibble arm derivation as
    ``cuped_report``, so the two reports describe the same split.

    Scale shape: distinct users (map-side combine), one global
    aggregation to two counts, closed-form chi-square on the one-row
    result. Returns (n_users, n_treat, n_ctrl, chi2_srm,
    srm_detected)."""
    users = events.select(F.col(user_col).alias("uid")).distinct()
    armed = users.withColumn(
        "arm",
        F.expr(
            "CAST(conv(substring(md5(CAST(uid AS STRING)), 1, 1),"
            " 16, 10) AS INT) % 2"
        ),
    )
    stats = armed.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_users"),
        F.expr("CAST(sum(arm) AS BIGINT)").alias("n1"),
        F.expr("CAST(sum(1 - arm) AS BIGINT)").alias("n0"),
    )
    return stats.select(
        "n_users",
        F.col("n1").alias("n_treat"),
        F.col("n0").alias("n_ctrl"),
        F.expr(f"round({SRM_CHI2}, 6)").alias("chi2_srm"),
        F.expr(f"({SRM_CHI2}) > {SRM_CRIT}").alias("srm_detected"),
    )


# Poisson(1) inverse-CDF thresholds (cumulative e^-1 * sum 1/k!),
# written as full-precision decimal literals so both engines parse the
# IDENTICAL doubles; weights are capped at 6 (P(X>6) ~ 8e-5).
POISSON1_CDF = [
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
    "0.9994058151824183",
]


def poisson1_weight_sql(u: str) -> str:
    """CASE text mapping a uniform ``u`` to a Poisson(1) draw —
    shared verbatim with the oracle twin."""
    branches = " ".join(
        f"WHEN {u} < CAST({t} AS DOUBLE) THEN {k}"
        for k, t in enumerate(POISSON1_CDF)
    )
    return f"CASE {branches} ELSE 6 END"


def bootstrap_ci(
    df: DataFrame,
    id_col: str = "o_orderkey",
    val_col: str = "o_totalprice",
    b_replicas: int = 32,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for a mean — the
    resampling-inference primitive that scales: classic bootstrap
    resampling needs n draws per replica from ONE reducer; the
    Poisson(1) approximation (Chamandy et al., Google 2012,
    "Estimating Uncertainty for Massive Data Streams") gives every
    row an independent per-replica weight, so all B replicas ride the
    SAME map-side pass (row -> B weighted contributions) and reduce
    with combine — no resample shuffle, no per-replica scan.

    Weights are deterministic: u = md5(id || ':' || b) through the
    Poisson(1) inverse CDF (full-precision literal thresholds both
    engines parse identically). Replica means use DECIMAL-exact sums;
    the interval is the 2nd / (B-1)th order statistic of the B means
    (~5/95% at B=32, deterministic replica-id tie-break); the
    bootstrap SE comes from DECIMAL-routed sums of the replica means.

    Returns one row: (n_rows, b_replicas, est_mean, ci_lo, ci_hi,
    se_boot)."""
    from pyspark.sql import Window

    from .relational import ols2_sum_sql

    u = (
        "CAST(conv(substring(md5(concat(CAST(id AS STRING), ':',"
        " CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        " / CAST(4294967296 AS DOUBLE)"
    )
    expanded = (
        # fan_out: the xB explode + per-(row, replica) md5 is the
        # heavy map work; a single-split scan would run it on one core
        fan_out(
            df.select(F.col(id_col).alias("id"), F.col(val_col).alias("value"))
        )
        .withColumn(
            "b", F.explode(F.sequence(F.lit(0), F.lit(b_replicas - 1)))
        )
        # u as a materialized column: one md5 per (row, replica), not
        # one per CASE branch
        .withColumn("u", F.expr(u))
        .withColumn("w", F.expr(poisson1_weight_sql("u")))
    )
    reps = expanded.groupBy("b").agg(
        F.expr(
            "CAST(sum(CAST(CAST(w AS DOUBLE) * value AS DECIMAL(28,12)))"
            " AS DOUBLE)"
        ).alias("total"),
        F.expr("CAST(sum(w) AS BIGINT)").alias("nb"),
    ).select(
        "b",
        F.expr(
            "total / nullif(CAST(nb AS DOUBLE), 0.0)"
        ).alias("mean_b"),
    )
    ranked = reps.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.asc("mean_b"), F.asc("b"))
        ),
    )
    lo_rk, hi_rk = 2, b_replicas - 1
    bounds = ranked.agg(
        F.expr(
            f"round(max(CASE WHEN rk = {lo_rk} THEN mean_b END), 6)"
        ).alias("ci_lo"),
        F.expr(
            f"round(max(CASE WHEN rk = {hi_rk} THEN mean_b END), 6)"
        ).alias("ci_hi"),
        F.expr("CAST(count(*) AS DOUBLE)").alias("bb"),
        *[
            F.expr(ols2_sum_sql(t, a))
            for t, a in [("mean_b", "sm"), ("mean_b * mean_b", "smm")]
        ],
    )
    # the 1-row base stats enter as an uncorrelated scalar subquery
    # (struct, single reference — no 1-row crossJoin/NLJ, r12 verdict
    # item 7)
    base = df.agg(
        F.struct(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_rows"),
            F.expr(
                f"CAST(sum(CAST({val_col} AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("sv"),
        ).alias("t")
    ).scalar()
    return bounds.withColumn("_b", base).select(
        F.col("_b.n_rows").alias("n_rows"),
        F.col("_b.sv").alias("sv"),
        "ci_lo",
        "ci_hi",
        "bb",
        "sm",
        "smm",
    ).select(
        "n_rows",
        F.lit(b_replicas).cast("int").alias("b_replicas"),
        F.expr(
            "round(sv / CAST(n_rows AS DOUBLE), 6)"
        ).alias("est_mean"),
        "ci_lo",
        "ci_hi",
        F.expr(
            "round(sqrt((bb * smm - sm * sm) / (bb * (bb - 1))), 6)"
        ).alias("se_boot"),
    )


# DiD formula text shared with oracle.DID_Q — all inputs are
# DECIMAL-exact per-arm sums and BIGINT counts.
DID_MEAN = "{s} / nullif(CAST({n} AS DOUBLE), 0.0)"
DID_EFFECT = (
    f"(({DID_MEAN.format(s='sy1', n='n1')})"
    f" - ({DID_MEAN.format(s='sx1', n='n1')}))"
    f" - (({DID_MEAN.format(s='sy0', n='n0')})"
    f" - ({DID_MEAN.format(s='sx0', n='n0')}))"
)
# per-arm variance of the per-user delta d = y - x
DID_VAR = (
    "({sdd} / nullif(CAST({n} AS DOUBLE), 0.0)"
    " - ({sd} / nullif(CAST({n} AS DOUBLE), 0.0))"
    " * ({sd} / nullif(CAST({n} AS DOUBLE), 0.0)))"
)
DID_SE = (
    "sqrt("
    + DID_VAR.format(sdd="sdd1", sd="sd1", n="n1")
    + " / nullif(CAST(n1 AS DOUBLE), 0.0) + "
    + DID_VAR.format(sdd="sdd0", sd="sd0", n="n0")
    + " / nullif(CAST(n0 AS DOUBLE), 0.0))"
)


def did_report(
    events: DataFrame,
    cutoff: str = "2024-01-16 00:00:00",
    ts_col: str = "ts",
    user_col: str = "user_id",
    val_col: str = "value",
) -> DataFrame:
    """Difference-in-differences readout over the event log: the
    treatment effect as (post−pre change in treatment) minus
    (post−pre change in control) — the causal-inference workhorse
    when arms differ at baseline (where the raw post-period diff that
    ``cuped_report`` adjusts would be biased). Same md5-nibble arms
    and pre/post per-user DECIMAL metrics as the rest of the
    experiment family, so all four reports (srm → did → cuped →
    bootstrap) describe one experiment.

    The standard error uses the per-user delta d = y − x (the paired
    formulation — deltas are independent across users, so
    se² = var(d|treat)/n1 + var(d|ctrl)/n0), all from one
    aggregation of DECIMAL-exact sums.

    Returns one row: (n_treat, n_ctrl, pre_treat, post_treat,
    pre_ctrl, post_ctrl, did, se_did, t_stat)."""
    peru = events.groupBy(F.col(user_col).alias("uid")).agg(
        F.expr(
            CUPED_X.format(ts=ts_col, cut=cutoff, v=val_col)
        ).alias("x"),
        F.expr(
            CUPED_Y.format(ts=ts_col, cut=cutoff, v=val_col)
        ).alias("y"),
    )
    armed = peru.withColumn(
        "arm",
        F.expr(
            "CAST(conv(substring(md5(CAST(uid AS STRING)), 1, 1),"
            " 16, 10) AS INT) % 2"
        ),
    ).withColumn("d", F.expr("y - x"))
    terms = [
        ("CASE WHEN arm = 1 THEN y ELSE CAST(0 AS DOUBLE) END", "sy1"),
        ("CASE WHEN arm = 0 THEN y ELSE CAST(0 AS DOUBLE) END", "sy0"),
        ("CASE WHEN arm = 1 THEN x ELSE CAST(0 AS DOUBLE) END", "sx1"),
        ("CASE WHEN arm = 0 THEN x ELSE CAST(0 AS DOUBLE) END", "sx0"),
        ("CASE WHEN arm = 1 THEN d ELSE CAST(0 AS DOUBLE) END", "sd1"),
        ("CASE WHEN arm = 0 THEN d ELSE CAST(0 AS DOUBLE) END", "sd0"),
        (
            "CASE WHEN arm = 1 THEN d * d ELSE CAST(0 AS DOUBLE) END",
            "sdd1",
        ),
        (
            "CASE WHEN arm = 0 THEN d * d ELSE CAST(0 AS DOUBLE) END",
            "sdd0",
        ),
    ]
    stats = armed.agg(
        F.expr("CAST(sum(arm) AS BIGINT)").alias("n1"),
        F.expr("CAST(sum(1 - arm) AS BIGINT)").alias("n0"),
        *[F.expr(ols2_sum_sql(t, a)) for t, a in terms],
    )
    return stats.select(
        F.col("n1").alias("n_treat"),
        F.col("n0").alias("n_ctrl"),
        F.expr(
            f"round({DID_MEAN.format(s='sx1', n='n1')}, 6) + 0.0"
        ).alias("pre_treat"),
        F.expr(
            f"round({DID_MEAN.format(s='sy1', n='n1')}, 6) + 0.0"
        ).alias("post_treat"),
        F.expr(
            f"round({DID_MEAN.format(s='sx0', n='n0')}, 6) + 0.0"
        ).alias("pre_ctrl"),
        F.expr(
            f"round({DID_MEAN.format(s='sy0', n='n0')}, 6) + 0.0"
        ).alias("post_ctrl"),
        F.expr(f"round({DID_EFFECT}, 6) + 0.0").alias("did"),
        F.expr(f"round({DID_SE}, 6) + 0.0").alias("se_did"),
        F.expr(
            f"round(({DID_EFFECT}) / nullif({DID_SE}, 0.0), 6) + 0.0"
        ).alias("t_stat"),
    )


# mSPRT mixture-normal likelihood ratio over the cumulative two-arm
# stats (Johari, Koomen, Pekelis & Walsh, "Peeking at A/B Tests", KDD
# 2017): prior N(0, tau^2) on the effect, plug-in pooled variance.
# Formula TEXT shared verbatim with the DuckDB twin (the SRM_CHI2
# pattern) over cumulative DOUBLE columns cn1/cs1/cq1/cn0/cs0/cq0; all
# literals carry decimal points so both engines parse doubles.
MSPRT_TAU2 = "CAST(1.0 AS DOUBLE)"
_MU1 = "(cs1 / cn1)"
_MU0 = "(cs0 / cn0)"
MSPRT_DELTA = f"({_MU1} - {_MU0})"
_VARP = (
    f"((cq1 - cn1 * {_MU1} * {_MU1} + cq0 - cn0 * {_MU0} * {_MU0})"
    " / (cn1 + cn0 - 2.0))"
)
MSPRT_VN = f"({_VARP} * (1.0 / cn1 + 1.0 / cn0))"
MSPRT_LAMBDA = (
    f"(sqrt({MSPRT_VN} / ({MSPRT_VN} + {MSPRT_TAU2}))"
    f" * exp(({MSPRT_DELTA} * {MSPRT_DELTA} * {MSPRT_TAU2})"
    f" / (2.0 * {MSPRT_VN} * ({MSPRT_VN} + {MSPRT_TAU2}))))"
)


def msprt_monitor(
    events: DataFrame,
    alpha: float = 0.05,
    ts_col: str = "ts",
    user_col: str = "user_id",
    val_col: str = "value",
) -> DataFrame:
    """Always-valid sequential A/B monitoring (mSPRT): the
    peek-any-time companion to the fixed-horizon ``cuped_report`` —
    the experimenter reads the dashboard DAILY, and a classical t-test
    p-value peeked repeatedly inflates false positives; the mixture
    likelihood ratio Λ_n keeps the type-I guarantee at every look.
    Arms come from the same md5-nibble user split as ``srm_check`` /
    ``cuped_report`` so all three reports describe one experiment.

    Per calendar day (the peek cadence): cumulative per-arm counts,
    sums, and sums of squares; Λ via the mixture-normal closed form
    with plug-in pooled variance; the always-valid p-value is the
    RUNNING MIN of 1/Λ (monotone by construction).

    Scale shape: one groupBy to day × arm partial sums (map-side
    combine does the heavy lifting — the cumulative window then walks
    day-count-many rows, not events); per-day sums quantize through
    the trunc-12dp/DECIMAL ladder so cumulative accumulation order is
    irrelevant; the day-ordered window is a single tiny partition
    AFTER the reduction (the score_auc sizing argument). Days where
    either arm has < 2 users' worth of data are withheld (variance
    undefined).

    Returns one row per day: (day, n_treat, n_ctrl, mean_diff,
    lambda_ratio, p_always_valid, reject_h0), 6dp."""
    from pyspark.sql import Window

    t12 = "floor(({x}) * 1e12) / 1e12"
    armed = events.select(
        F.to_date(F.col(ts_col)).alias("day"),
        F.expr(
            f"CAST(conv(substring(md5(CAST({user_col} AS STRING)), 1, 1),"
            " 16, 10) AS INT) % 2"
        ).alias("arm"),
        F.col(val_col).cast("double").alias("v"),
    )
    daily = armed.groupBy("day").agg(
        F.expr("CAST(sum(arm) AS BIGINT)").alias("d_n1"),
        F.expr(
            "sum(CASE WHEN arm = 1 THEN CAST("
            + t12.format(x="v")
            + " AS DECIMAL(32,12)) ELSE CAST(0 AS DECIMAL(32,12)) END)"
        ).alias("d_s1"),
        F.expr(
            "sum(CASE WHEN arm = 1 THEN CAST("
            + t12.format(x="v * v")
            + " AS DECIMAL(32,12)) ELSE CAST(0 AS DECIMAL(32,12)) END)"
        ).alias("d_q1"),
        F.expr("CAST(sum(1 - arm) AS BIGINT)").alias("d_n0"),
        F.expr(
            "sum(CASE WHEN arm = 0 THEN CAST("
            + t12.format(x="v")
            + " AS DECIMAL(32,12)) ELSE CAST(0 AS DECIMAL(32,12)) END)"
        ).alias("d_s0"),
        F.expr(
            "sum(CASE WHEN arm = 0 THEN CAST("
            + t12.format(x="v * v")
            + " AS DECIMAL(32,12)) ELSE CAST(0 AS DECIMAL(32,12)) END)"
        ).alias("d_q0"),
    )
    return msprt_walk(daily, alpha)


def msprt_walk(daily: DataFrame, alpha: float = 0.05) -> DataFrame:
    """The cumulative λ walk over a per-day partial-sums frame
    (day, d_n1, d_s1, d_q1, d_n0, d_s0, d_q0) — shared between the
    batch ``msprt_monitor`` and the streaming ``msprt_stream`` so the
    two lifecycles cannot drift. The day-ordered windows are single-
    partition BY SIZING: the input is the day-count-sized reduction,
    never events (the score_auc argument)."""
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("d_n1").over(w).cast("double").alias("cn1"),
        F.sum("d_s1").over(w).cast("double").alias("cs1"),
        F.sum("d_q1").over(w).cast("double").alias("cq1"),
        F.sum("d_n0").over(w).cast("double").alias("cn0"),
        F.sum("d_s0").over(w).cast("double").alias("cs0"),
        F.sum("d_q0").over(w).cast("double").alias("cq0"),
    ).filter((F.col("cn1") >= 2) & (F.col("cn0") >= 2))
    scored = cum.select(
        "day",
        F.col("cn1").cast("bigint").alias("n_treat"),
        F.col("cn0").cast("bigint").alias("n_ctrl"),
        F.expr(f"round({MSPRT_DELTA}, 6) + 0.0").alias("mean_diff"),
        F.expr(f"round({MSPRT_LAMBDA}, 6) + 0.0").alias("lambda_ratio"),
        F.expr(f"least(1.0, 1.0 / {MSPRT_LAMBDA})").alias("_p_raw"),
    )
    wmin = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return scored.select(
        F.col("day").cast("string").alias("day"),
        "n_treat",
        "n_ctrl",
        "mean_diff",
        "lambda_ratio",
        F.round(F.min("_p_raw").over(wmin), 6).alias("p_always_valid"),
        (F.min("_p_raw").over(wmin) < F.lit(alpha)).alias("reject_h0"),
    )


def _strata_exprs() -> list[str]:
    """Stratum keys, treatment ``t`` (has_loans) and outcome ``y1``
    (subscribed) as 0/1 bigints, for ``selectExpr`` on the valid rows."""
    from ..functions import scoring

    return [
        f"{scoring.age_group('age')} AS age_group",
        f"{scoring.wealth_segment('balance')} AS wealth_segment",
        f"CAST({scoring.has_loans('housing', 'loan')} AS BIGINT) AS t",
        f"CAST(y = {scoring.sql_str('yes')} AS BIGINT) AS y1",
    ]


def strat_ate(valid: DataFrame) -> DataFrame:
    """Stratified treatment-effect table on the validated bank rows:
    treatment = has_loans (housing or personal loan), outcome =
    subscription (y = 'yes'), strata = age_group × wealth_segment —
    the exact-within-stratum form of inverse-propensity weighting
    (each stratum's comparison is balanced by construction; weighting
    the per-stratum differences by n_s/N outside this operator gives
    the classic stratified ATE). The standard observational-causal
    screen before a CUPED/DiD design.

    Everything is exact integer counting (one map-side-combined
    groupBy over the 9 strata) until the two per-row rate divisions;
    strata missing either arm are dropped (no contrast exists).

    Returns (age_group, wealth_segment, n_s, n_treated, n_control,
    rate_treated, rate_control, diff) ordered by the stratum keys."""
    cells = (
        valid.selectExpr(*_strata_exprs())
        .groupBy("age_group", "wealth_segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_s"),
            F.sum("t").cast("bigint").alias("n_treated"),
            F.sum(F.col("t") * F.col("y1")).cast("bigint").alias("y_t"),
            F.sum((1 - F.col("t")) * F.col("y1")).cast("bigint").alias("y_c"),
        )
        .withColumn("n_control", (F.col("n_s") - F.col("n_treated")).cast("bigint"))
        .filter((F.col("n_treated") > 0) & (F.col("n_control") > 0))
    )
    rate_t = F.col("y_t").cast("double") / F.col("n_treated").cast("double")
    rate_c = F.col("y_c").cast("double") / F.col("n_control").cast("double")
    return cells.select(
        "age_group",
        "wealth_segment",
        "n_s",
        "n_treated",
        "n_control",
        rate_t.alias("rate_treated"),
        rate_c.alias("rate_control"),
        (rate_t - rate_c).alias("diff"),
    ).orderBy("age_group", "wealth_segment")


def perm_test(
    events: DataFrame,
    type_a: str = "purchase",
    type_b: str = "click",
    b: int = 32,
) -> DataFrame:
    """Randomization (relabeling) test for the mean-value difference
    between two event types — the distribution-free significance
    companion to ``bootstrap_ci``'s interval (Fisher 1935 / the
    relabeling null: if the type label carries no information, a
    random relabeling preserving the group-A marginal rate should
    produce |mean diff| at least as large as observed about p of the
    time).

    Deterministic & engine-portable, the ``negative_samples`` md5
    discipline: replicate r relabels event e into group A' iff
    ``u32(md5('perm:r:event_id')) · (n_a+n_b) < n_a · 2³²`` — an
    EXACT integer comparison (no float thresholds), identical in both
    engines. Group sums ride DECIMAL; each replicate's mean diff and
    the observed diff are the same fixed double expression, so the
    |diff_r| ≥ |obs| comparisons agree bitwise. Replicates with an
    empty side yield a NULL diff and drop from the count (both
    engines, same rule). p = (1 + #{|diff_r| ≥ |obs|}) / (n_valid+1),
    the add-one permutation-p convention.

    Scale shape: ONE pass collapses the feed to (event_id, value,
    is_a); the (n_a, n_b, sums) observed reduction enters as an
    uncorrelated scalar subquery (struct, single reference); the
    replicate explode multiplies only the two-type SUBSET by ``b``
    (map-only row generation) before a (replicate)-keyed groupBy —
    at 100 TB drop ``b`` or pre-sample; no windows, no NLJs.

    Returns one row (n_a, n_b, obs_diff, b_replicas, n_valid, n_ge,
    p_value) — obs_diff/p_value 6 dp."""
    base = events.filter(
        F.col("event_type").isin([type_a, type_b])
        & F.col("value").isNotNull()
    ).select(
        "event_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
        F.when(F.col("event_type") == type_a, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_a"),
    )
    obs = base.agg(
        F.struct(
            F.sum("is_a").cast("bigint").alias("n_a"),
            (F.count(F.lit(1)) - F.sum("is_a")).cast("bigint").alias("n_b"),
            F.sum(F.when(F.col("is_a") == 1, F.col("v"))).alias("s_a"),
            F.sum(F.when(F.col("is_a") == 0, F.col("v"))).alias("s_b"),
        ).alias("t")
    ).scalar()

    def mean_diff(s_a, n_a, s_b, n_b):
        return s_a.cast("double") / n_a.cast("double") - s_b.cast(
            "double"
        ) / n_b.cast("double")

    u32 = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit("perm"), F.col("r"), F.col("event_id")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    reps = (
        base.withColumn("_t", obs)
        .select(
            "event_id",
            "v",
            "_t",
            F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("r"),
        )
        .select(
            "r",
            "v",
            "_t",
            (
                u32 * (F.col("_t.n_a") + F.col("_t.n_b"))
                < F.col("_t.n_a") * F.lit(1 << 32)
            )
            .cast("bigint")
            .alias("in_a"),
        )
        .groupBy("r")
        .agg(
            F.max("_t").alias("_t"),
            F.sum("in_a").cast("bigint").alias("ra"),
            (F.count(F.lit(1)) - F.sum("in_a")).cast("bigint").alias("rb"),
            F.sum(F.when(F.col("in_a") == 1, F.col("v"))).alias("sa"),
            F.sum(F.when(F.col("in_a") == 0, F.col("v"))).alias("sb"),
        )
        .select(
            "_t",
            F.when(
                (F.col("ra") > 0) & (F.col("rb") > 0),
                mean_diff(F.col("sa"), F.col("ra"), F.col("sb"), F.col("rb")),
            ).alias("diff"),
        )
    )
    obs_diff = mean_diff(
        F.col("_t.s_a"), F.col("_t.n_a"), F.col("_t.s_b"), F.col("_t.n_b")
    )
    return (
        reps.select(
            "_t",
            "diff",
            obs_diff.alias("od"),
        )
        .agg(
            F.max("_t.n_a").alias("n_a"),
            F.max("_t.n_b").alias("n_b"),
            F.max("od").alias("_od"),
            F.sum(F.col("diff").isNotNull().cast("bigint"))
            .cast("bigint")
            .alias("n_valid"),
            F.sum(
                (F.abs(F.col("diff")) >= F.abs(F.col("od")))
                .cast("bigint")
            )
            .cast("bigint")
            .alias("n_ge"),
        )
        .select(
            "n_a",
            "n_b",
            F.round("_od", 6).alias("obs_diff"),
            F.lit(b).cast("int").alias("b_replicas"),
            "n_valid",
            F.coalesce("n_ge", F.lit(0).cast("bigint")).alias("n_ge"),
            F.round(
                (F.coalesce("n_ge", F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("n_valid") + F.lit(1)).cast("double"),
                6,
            ).alias("p_value"),
        )
        # degenerate-input shape parity (r13 ADVICE): an EMPTY
        # two-type subset leaves the twin's grouped terminal SELECT
        # with zero rows, while the ungrouped agg here would emit one
        # all-NULL row — drop it so both engines return zero rows
        .where(F.col("n_a").isNotNull())
    )


def ate_report(valid: DataFrame) -> DataFrame:
    """One-row causal summary on top of ``strat_ate``'s per-stratum
    table: the naive unadjusted difference, the stratified ATE
    (n_s/N-weighted within-stratum contrasts — algebraically the IPW
    estimator with exact within-stratum propensities), the ATT
    (controls reweighted to the treated strata mix, n_t,s/n_c,s
    weights) and the ATC (the mirror) — Imbens & Rubin ch. 17's
    weighting-estimator family as exact-arithmetic aggregates.
    The single-row "did the treatment do anything, for whom" readout
    next to the per-stratum localization table.

    Exactness: all counts integer from ONE 9-stratum groupBy; each
    per-stratum term is the same fixed double expression in both
    engines, 12-dp-rounded and DECIMAL-summed (order-independent),
    one terminal division per estimand, 6 dp. Strata missing either
    arm are dropped from every estimand (no contrast exists there) —
    the strat_ate rule; the naive diff runs over ALL rows.

    Returns one row (n, n_treated, n_control, n_strata_used,
    diff_naive, ate, att, atc)."""
    staged = valid.selectExpr(*_strata_exprs())
    # the naive (all-rows) contrast enters as a scalar subquery struct
    naive = staged.agg(
        F.struct(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("t").cast("bigint").alias("n_t"),
            F.sum(F.col("t") * F.col("y1")).cast("bigint").alias("y_t"),
            F.sum((1 - F.col("t")) * F.col("y1"))
            .cast("bigint")
            .alias("y_c"),
        ).alias("s")
    ).scalar()
    cells = (
        staged.groupBy("age_group", "wealth_segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_s"),
            F.sum("t").cast("bigint").alias("n_t"),
            F.sum(F.col("t") * F.col("y1")).cast("bigint").alias("y_t"),
            F.sum((1 - F.col("t")) * F.col("y1"))
            .cast("bigint")
            .alias("y_c"),
        )
        .withColumn("n_c", (F.col("n_s") - F.col("n_t")).cast("bigint"))
        .filter((F.col("n_t") > 0) & (F.col("n_c") > 0))
    )
    rt = F.col("y_t").cast("double") / F.col("n_t").cast("double")
    rc = F.col("y_c").cast("double") / F.col("n_c").cast("double")

    def dec12(c):
        return F.round(c, 12).cast("decimal(26,12)")

    agg = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata_used"),
        F.sum("n_s").cast("bigint").alias("n_used"),
        F.sum("n_t").cast("bigint").alias("nt_used"),
        F.sum("n_c").cast("bigint").alias("nc_used"),
        F.sum(dec12((rt - rc) * F.col("n_s").cast("double"))).alias(
            "ate_num"
        ),
        F.sum(dec12((rt - rc) * F.col("n_t").cast("double"))).alias(
            "att_num"
        ),
        F.sum(dec12((rt - rc) * F.col("n_c").cast("double"))).alias(
            "atc_num"
        ),
    )
    return agg.withColumn("_s", naive).select(
        F.col("_s.n").alias("n"),
        F.col("_s.n_t").alias("n_treated"),
        (F.col("_s.n") - F.col("_s.n_t")).cast("bigint").alias("n_control"),
        "n_strata_used",
        F.round(
            F.col("_s.y_t").cast("double") / F.col("_s.n_t").cast("double")
            - F.col("_s.y_c").cast("double")
            / (F.col("_s.n") - F.col("_s.n_t")).cast("double"),
            6,
        ).alias("diff_naive"),
        F.round(
            F.col("ate_num").cast("double") / F.col("n_used").cast("double"),
            6,
        ).alias("ate"),
        F.round(
            F.col("att_num").cast("double") / F.col("nt_used").cast("double"),
            6,
        ).alias("att"),
        F.round(
            F.col("atc_num").cast("double") / F.col("nc_used").cast("double"),
            6,
        ).alias("atc"),
    )
