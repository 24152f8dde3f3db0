"""Single-pass column profiling: per-column null count, distinct
count, and min/max — the ``PROFILE table`` feature every analytics
engine ships, used before writing quality rules (operators/
expectations.py consumes exactly these kinds of bounds).

Shape: ONE aggregation pass computes every per-column statistic, then
a map-only ``stack`` unpivots the single result row into one row per
column. Two notes that matter at 100 TB:

- Multiple EXACT ``count(DISTINCT c)`` aggregates make Catalyst plan
  an Expand (the input is replicated once per distinct aggregate into
  the shuffle). That is the honest cost of exact distincts and is fine
  for a handful of columns; for wide tables use
  ``profile_table(..., exact_distinct=False)`` — HLL sketches
  (``approx_count_distinct``) profile any number of columns in one
  un-expanded pass at ~2% error. The exact form is the oracle-checked
  one (a sketch estimate cannot hash-match another engine).
- min/max are computed on the NATIVE column (so numeric/temporal
  ordering applies) and only then canonicalized to a cross-engine
  string form: longs as digits, doubles through DECIMAL(18,4) (fixed
  scale — both engines print "123.4500"), timestamps as epoch
  microseconds (UTC session; DuckDB ``epoch_us`` computes the same
  integer). Min-of-canonical would be a lexicographic min — wrong.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _canon(dtype: T.DataType, col: Column) -> Column:
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_micros(col.cast("timestamp")).cast("string")
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(col, 4).cast("decimal(18,4)").cast("string")
    return col.cast("string")


def profile_table(
    df: DataFrame, cols: list[str], exact_distinct: bool = True
) -> DataFrame:
    """One row per profiled column:
    ``(column_name, n_nulls, n_distinct, min_value, max_value)``."""
    n_distinct = F.count_distinct if exact_distinct else F.approx_count_distinct
    aggs = []
    for c in cols:
        dtype = df.schema[c].dataType
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"{c}__nulls"),
            n_distinct(F.col(c)).cast("long").alias(f"{c}__distinct"),
            _canon(dtype, F.min(c)).alias(f"{c}__min"),
            _canon(dtype, F.max(c)).alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        )
    )


# ------------------------------------------------- chi-square screen

# Cell-term formula text shared verbatim with the DuckDB twin: the
# expected count and the (o-e)^2/e term are pure double arithmetic on
# exact BIGINT counts, so both engines produce bit-identical per-cell
# terms; the cross-cell sum is made order-independent by routing each
# term through DECIMAL(28,12) (the ols2_sum_sql argument — terms here
# are bounded by n, far under the 1e16 decimal headroom).
CHI2_E = (
    "CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)"
    " / CAST(n AS DOUBLE)"
)
CHI2_TERM = (
    f"(CAST(o AS DOUBLE) - {CHI2_E}) * (CAST(o AS DOUBLE) - {CHI2_E})"
    f" / ({CHI2_E})"
)
CHI2_SUM = (
    f"CAST(sum(CAST({CHI2_TERM} AS DECIMAL(28,12))) AS DOUBLE)"
)


def chi2_independence(
    df: DataFrame, features: list[str], target: str
) -> DataFrame:
    """Chi-square independence screen: for each categorical feature,
    the chi-square statistic, degrees of freedom, and Cramér's V
    against ``target`` — the feature-selection / drift-localization
    test that pairs with ``psi_drift`` (that one scores a column
    against itself over time; this scores it against a label).

    Scale shape (100 TB): ONE map-side ``stack`` unpivots k features
    into (feature, level, target) rows — a k× row expansion of
    two-string tuples, not of the full table — then three map-side-
    combined groupBys reduce to contingency cells (model-parameter
    scale: levels × target classes per feature). Expected counts,
    per-cell terms, and the dof/V derivations all run on those tiny
    aggregates; nothing downstream of the first aggregation scales
    with data volume, and no collect happens at all.

    Returns one row per feature: (feature, n, levels, classes, dof,
    chi2, cramers_v), ordered by feature."""
    pairs = ", ".join(f"'{c}', {c}" for c in features)
    cells = (
        df.select(
            F.expr(
                f"stack({len(features)}, {pairs}) AS (feature, level)"
            ),
            F.col(target).alias("tgt"),
        )
        .groupBy("feature", "level", "tgt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    row_tot = cells.groupBy("feature", "level").agg(
        F.sum("o").cast("bigint").alias("row_tot")
    )
    col_tot = cells.groupBy("feature", "tgt").agg(
        F.sum("o").cast("bigint").alias("col_tot")
    )
    n_tot = cells.groupBy("feature").agg(
        F.sum("o").cast("bigint").alias("n"),
        F.count_distinct("level").cast("bigint").alias("levels"),
        F.count_distinct("tgt").cast("bigint").alias("classes"),
    )
    full = (
        cells.join(row_tot, ["feature", "level"])
        .join(col_tot, ["feature", "tgt"])
        .join(n_tot, "feature")
    )
    stats = full.groupBy(
        "feature", "n", "levels", "classes"
    ).agg(F.expr(CHI2_SUM).alias("chi2_raw"))
    return stats.select(
        "feature",
        "n",
        "levels",
        "classes",
        ((F.col("levels") - 1) * (F.col("classes") - 1))
        .cast("bigint")
        .alias("dof"),
        F.expr("round(chi2_raw, 6)").alias("chi2"),
        F.expr(
            "round(sqrt(chi2_raw / (CAST(n AS DOUBLE)"
            " * CAST(least(levels - 1, classes - 1) AS DOUBLE))), 6)"
        ).alias("cramers_v"),
    ).orderBy("feature")


# Lift formula text shared with oracle.LIFT_TABLE_Q.
LIFT_RATE = "CAST({p} AS DOUBLE) / CAST({n} AS DOUBLE)"


def lift_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_bands: int = 10,
) -> DataFrame:
    """Decile lift / gains table for a score against a binary
    outcome — THE model-evaluation readout for targeting scores
    (which slice of the scored population concentrates the
    responders, and how much better than random): rank by score,
    split into ``n_bands`` equal bands, and report per-band and
    cumulative response rates and lifts.

    Banding uses ``ntile`` over (score desc, id asc) — a TOTAL order,
    so band membership is deterministic and integer-only cross-engine
    (the xent_buckets argument; at 100 TB swap the global ntile for
    approx-percentile threshold cuts, same output contract). The
    per-band aggregation reduces to ``n_bands`` rows; cumulative
    sums and the overall base rate are windows over that tiny frame.

    Returns (band, n, n_pos, resp_rate, lift, cum_n, cum_pos,
    cum_resp_rate, cum_lift), band 1 = highest scores."""
    from pyspark.sql import Window

    banded = df.select(
        F.col(label_col).cast("int").alias("pos"),
        F.ntile(n_bands)
        .over(
            Window.orderBy(
                F.col(score_col).desc(), F.col(id_col).asc()
            )
        )
        .alias("band"),
    )
    per = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    w = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "band",
        "n",
        "n_pos",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(w).cast("bigint").alias("cum_pos"),
        F.sum("n").over(tot).cast("bigint").alias("tot_n"),
        F.sum("n_pos").over(tot).cast("bigint").alias("tot_pos"),
    )
    rate = LIFT_RATE.format(p="n_pos", n="n")
    crate = LIFT_RATE.format(p="cum_pos", n="cum_n")
    base = LIFT_RATE.format(p="tot_pos", n="tot_n")
    return cum.select(
        "band",
        "n",
        "n_pos",
        F.expr(f"round({rate}, 6)").alias("resp_rate"),
        F.expr(f"round(({rate}) / nullif({base}, 0.0), 6)").alias("lift"),
        "cum_n",
        "cum_pos",
        F.expr(f"round({crate}, 6)").alias("cum_resp_rate"),
        F.expr(f"round(({crate}) / nullif({base}, 0.0), 6)").alias(
            "cum_lift"
        ),
    ).orderBy("band")


# Shannon-entropy term text shared with oracle.COLUMN_ENTROPY_Q.
ENTROPY_TERM = (
    "-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
    " * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
)
ENTROPY_SUM = (
    f"CAST(sum(CAST({ENTROPY_TERM} AS DECIMAL(28,12))) AS DOUBLE)"
)


def column_entropy(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column Shannon entropy, normalized entropy, and top-value
    concentration — the information-theoretic column profile that
    ``profile_table``'s min/max/distinct can't see: a column with
    1000 distinct values where one holds 99% of rows profiles as
    high-cardinality but carries ~0 bits (a candidate constant /
    skew hazard / useless feature). Data-discovery and
    feature-triage both start here.

    Scale shape: one map-side ``stack`` to (column, value) string
    pairs, one map-side-combined groupBy to value counts, then
    per-column aggregates over the (distinct-values)-sized frame with
    the DECIMAL-routed entropy-term sum (order-independent).

    Returns (column, n, distinct_n, entropy, norm_entropy,
    top_share), norm_entropy = H / log2(distinct_n) (NULL for
    single-valued columns), ordered by column."""
    pairs = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    cells = (
        df.select(
            F.expr(f"stack({len(cols)}, {pairs}) AS (col, val)")
        )
        .groupBy("col", "val")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = cells.groupBy("col").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_n"),
        F.max("c").cast("bigint").alias("top_c"),
    )
    stats = (
        cells.join(tot, "col")
        .groupBy("col", "n", "distinct_n", "top_c")
        .agg(F.expr(ENTROPY_SUM).alias("h"))
    )
    return stats.select(
        F.col("col").alias("column"),
        "n",
        "distinct_n",
        F.expr("round(h, 6)").alias("entropy"),
        F.expr(
            "round(h / nullif(log2(CAST(distinct_n AS DOUBLE)), 0.0), 6)"
        ).alias("norm_entropy"),
        F.expr(
            "round(CAST(top_c AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        ).alias("top_share"),
    ).orderBy("column")


# AUC formula text shared with oracle.score_auc_sql: doubled rank sum
# r2 keeps every intermediate an exact integer (average ranks have .5
# granularity, so 2*avg_rank = 2*cum_prev + cnt + 1 is integral) —
# the sum is order-independent across engines by construction.
AUC_EXPR = (
    "CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)"
    " / CAST(nullif(2 * n_pos * n_neg, 0) AS DOUBLE)"
)


def score_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact ROC AUC of a score against a binary outcome via the
    Mann–Whitney U statistic with average-rank tie handling — THE
    threshold-free discrimination readout for any model score (the
    probability a random positive outranks a random negative), the
    companion to ``lift_table``'s banded view. AUC = (R⁺ −
    n⁺(n⁺+1)/2) / (n⁺·n⁻) where R⁺ sums positives' average ranks
    (ties share the mean of their rank range).

    Scale shape: ONE map-side-combined groupBy reduces the corpus to
    its DISTINCT SCORES with (count, positives); the rank walk is a
    window over that reduced frame (the xent_buckets/lift_table
    argument — at 100 TB the distinct-score frame of any real score is
    orders smaller than the data; a 6-dp-rounded score has ≤ 2M
    possible values). INTEGER-ONLY until the final division: the
    doubled rank sum r2 = Σ pos·(2·cum_prev + cnt + 1) is exact, so
    no float-sum ordering can split the engines.

    Returns ONE row (n, n_pos, n_neg, auc, gini), auc/gini
    6-dp-rounded, NULL when a class is empty."""
    from pyspark.sql import Window

    g = (
        df.select(
            F.col(score_col).alias("s"),
            F.col(label_col).cast("int").alias("pos"),
        )
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("pos").cast("bigint").alias("npos"),
        )
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = g.select(
        "cnt",
        "npos",
        (
            F.lit(2) * F.coalesce(F.sum("cnt").over(w), F.lit(0))
            + F.col("cnt")
            + F.lit(1)
        ).alias("r2x"),
    )
    agg = ranked.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("npos").cast("bigint").alias("n_pos"),
        F.sum(F.col("npos") * F.col("r2x")).cast("bigint").alias("r2"),
    ).select(
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).cast("bigint").alias("n_neg"),
        "r2",
    )
    return agg.select(
        "n",
        "n_pos",
        "n_neg",
        F.expr(f"round({AUC_EXPR}, 6)").alias("auc"),
        F.expr(f"round(2 * ({AUC_EXPR}) - 1, 6)").alias("gini"),
    )


# Calibration formula text shared with oracle.calibration_sql: the
# score sum routes through DECIMAL(28,12) so the per-bin mean is
# order-independent across engines.
CAL_MEAN = "CAST(s_sum AS DOUBLE) / CAST(n AS DOUBLE)"
CAL_RATE = "CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)"


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table for a probability-like score in [0, 1]: split
    into ``n_bins`` equal-width bins and compare each bin's MEAN
    PREDICTED score to its OBSERVED positive rate — the calibration
    readout behind every reliability diagram, with the per-bin ECE
    contribution (n/N · |gap|) so Σ ece_term is the expected
    calibration error. A well-discriminating score (high AUC) can
    still be badly calibrated; quality-filter thresholds and
    temperature choices hang off THIS table, not the AUC.

    Scale shape: one map-side bin assignment, one combined groupBy to
    ``n_bins`` rows, window totals over that tiny frame. The score
    sum routes through DECIMAL(28,12) (order-independent), counts are
    exact ints.

    Returns (bin, n, n_pos, mean_score, obs_rate, gap, ece_term),
    bin 0 = [0, 1/n_bins), last bin closed above, ordered by bin."""
    from pyspark.sql import Window

    b = df.select(
        F.least(
            F.greatest(
                F.floor(F.col(score_col) * n_bins), F.lit(0)
            ),
            F.lit(n_bins - 1),
        )
        .cast("int")
        .alias("bin"),
        F.col(score_col).cast("decimal(28,12)").alias("sdec"),
        F.col(label_col).cast("int").alias("pos"),
    )
    per = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("sdec").alias("s_sum"),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.withColumn("tot_n", F.sum("n").over(tot).cast("bigint"))
    return cum.select(
        "bin",
        "n",
        "n_pos",
        F.expr(f"round({CAL_MEAN}, 6)").alias("mean_score"),
        F.expr(f"round({CAL_RATE}, 6)").alias("obs_rate"),
        F.expr(f"round(({CAL_RATE}) - ({CAL_MEAN}), 6)").alias("gap"),
        F.expr(
            "round(CAST(n AS DOUBLE) / CAST(tot_n AS DOUBLE)"
            f" * abs(({CAL_RATE}) - ({CAL_MEAN})), 6)"
        ).alias("ece_term"),
    ).orderBy("bin")


def woe_iv(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
) -> DataFrame:
    """Weight-of-evidence / information-value feature screen — the
    classic credit-scoring readout (Siddiqi, "Credit Risk
    Scorecards", ch. 6): per category of each categorical feature,
    WOE = ln(share-of-positives / share-of-negatives), and per
    feature IV = sum over categories of (dp - dn) * WOE; IV > 0.3 is
    the conventional "strong predictor" cut. Shares are Laplace-
    smoothed the way ``psi_table`` smooths its bins — +0.5 per cell
    against +0.5 x n_categories in the denominator — so empty cells
    never produce ln(0).

    Scale shape: one map-side explode melts the feature columns into
    (feature, category) rows (x|features| fan-out, a constant), ONE
    groupBy with map-side combine reduces to the category-cardinality
    frame, and every total (per-feature positives, negatives,
    category count) is a window over that tiny frame — the corpus is
    read once. The per-feature IV sum walks the trunc-12dp/DECIMAL
    ladder so category order can't shift the doubles.

    Returns one row per (feature, category): (feature, category, n,
    n_pos, dist_pos, dist_neg, woe, iv_term, iv), 6dp."""
    from pyspark.sql import Window

    melted = df.select(
        F.col(label_col).cast("int").alias("pos"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("feature"),
                        F.col(c).cast("string").alias("category"),
                    )
                    for c in feature_cols
                ]
            )
        ).alias("fc"),
    ).select("pos", "fc.feature", "fc.category")
    per = melted.groupBy("feature", "category").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    wf = Window.partitionBy("feature")
    tot = per.select(
        "feature",
        "category",
        "n",
        "n_pos",
        F.sum("n_pos").over(wf).cast("double").alias("_tp"),
        F.sum(F.col("n") - F.col("n_pos")).over(wf).cast("double").alias("_tn"),
        F.count(F.lit(1)).over(wf).cast("double").alias("_k"),
    )
    dp = "((CAST(n_pos AS DOUBLE) + 0.5) / (_tp + 0.5 * _k))"
    dn = "((CAST(n - n_pos AS DOUBLE) + 0.5) / (_tn + 0.5 * _k))"
    woe = f"ln({dp} / {dn})"
    term = f"({dp} - {dn}) * ({woe})"
    scored = tot.select(
        "feature",
        "category",
        "n",
        "n_pos",
        F.expr(f"round({dp}, 6) + 0.0").alias("dist_pos"),
        F.expr(f"round({dn}, 6) + 0.0").alias("dist_neg"),
        F.expr(f"round({woe}, 6) + 0.0").alias("woe"),
        F.expr(f"round({term}, 6) + 0.0").alias("iv_term"),
        F.expr(
            f"CAST(floor(({term}) * 1e12) / 1e12 AS DECIMAL(32,12))"
        ).alias("_t12"),
    )
    return scored.select(
        "feature",
        "category",
        "n",
        "n_pos",
        "dist_pos",
        "dist_neg",
        "woe",
        "iv_term",
        F.round(
            F.sum("_t12").over(Window.partitionBy("feature")).cast("double"),
            6,
        ).alias("iv"),
    )


def bt_strengths(
    docs: DataFrame,
    top_n: int = 24,
    judges: int = 5,
    iters: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    plan_hook=None,
) -> DataFrame:
    """Bradley–Terry strengths from pairwise judge preferences — the
    arena-style ranking model (Bradley & Terry 1952; Hunter 2004 MM
    algorithm; the Chatbot-Arena/LMSYS leaderboard shape): given
    win counts n_ij over document pairs, iterate

        s_i  <-  W_i / sum_j  games_ij / (s_i + s_j)

    and renormalize to mean 1 — the MM update whose fixpoint is the
    BT maximum likelihood. Judging is a deterministic synthetic panel
    (the harness stand-in for human/LLM preference labels): each of
    ``judges`` judges perceives quality + an md5-derived jitter, so
    win matrices are realistic (non-transitive upsets near ties)
    while every engine replays them exactly.

    Scale shape: contestants reduce to ``top_n`` rows BEFORE any
    pairing (top-quality cut — the candidate-set discipline of every
    pairwise family here), so the pair grid, judge panel, and MM loop
    are all model-parameter scale (top_n² rows); the corpus is
    touched once for the quality scores. The MM steps run through
    ``session.iterate``; each step's normalizing sum is observed on
    its own checkpoint. Division terms and normalization walk the
    trunc-12dp/DECIMAL ladder.

    Returns top_n rows (doc_id, wins, games, strength, rank):
    strength mean-1-normalized at 6dp, rank by strength desc."""
    from pyspark.sql import Window

    from ..functions import texttools
    from ..session import iterate, pin_for_query

    def _t12(col):
        return F.floor(col * F.lit(1e12)).cast("double") / F.lit(1e12)

    def _dsum(col):
        return F.sum(_t12(col).cast("decimal(32,12)")).cast("double")

    q = F.round(texttools.quality_score(F.col(text_col)), 6)
    cont = (
        docs.select(F.col(id_col).alias("doc"), q.alias("q"))
        .orderBy(F.col("q").desc(), F.col("doc").asc())
        .limit(top_n)
        .localCheckpoint()
    )
    jit = (
        "CAST(CAST(conv(substring(md5(concat(CAST({d} AS STRING), '|',"
        " CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT) % 1000 AS DOUBLE)"
        " / 1000.0 * 0.3"
    )
    games = (
        cont.alias("a")
        .join(cont.alias("b"), F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("i"),
            F.col("b.doc").alias("j"),
            F.col("a.q").alias("qi"),
            F.col("b.q").alias("qj"),
            F.explode(F.sequence(F.lit(1), F.lit(judges))).alias("k"),
        )
        .select(
            "i",
            "j",
            (
                (F.col("qi") + F.expr(jit.format(d="i")))
                > (F.col("qj") + F.expr(jit.format(d="j")))
            ).alias("i_wins"),
        )
    )
    wins = games.groupBy("i", "j").agg(
        F.sum(F.col("i_wins").cast("int")).cast("bigint").alias("wi"),
        F.count(F.lit(1)).cast("bigint").alias("g"),
    ).localCheckpoint()
    # symmetric edge list: one row per (doc, opponent) with the doc's
    # wins in that pairing and the games played
    ed = wins.select(
        F.col("i").alias("doc"), F.col("j").alias("opp"), F.col("wi").alias("w"), "g"
    ).unionByName(
        wins.select(
            F.col("j").alias("doc"),
            F.col("i").alias("opp"),
            (F.col("g") - F.col("wi")).alias("w"),
            "g",
        )
    ).localCheckpoint()
    totals = ed.groupBy("doc").agg(
        F.sum("w").cast("bigint").alias("wins"),
        F.sum("g").cast("bigint").alias("games"),
    ).localCheckpoint()
    for df in (cont, wins, ed, totals):
        pin_for_query(df)  # freed when the query scope closes
    n_lit = F.lit(float(top_n))

    def strengths(raw: DataFrame, seen) -> DataFrame:
        # mean-1 renormalized by the observed sum (the initial 1.0s as is)
        r = F.col("r")
        s = r if seen is None else _t12(r * n_lit / seen["t"])
        return raw.select("doc", s.alias("s"))

    def mm_update(raw: DataFrame, it: int, seen) -> DataFrame:
        s = strengths(raw, seen)
        si = s.select(F.col("doc"), F.col("s").alias("_si"))
        sj = s.select(F.col("doc").alias("opp"), F.col("s").alias("_sj"))
        denom = (
            ed.join(si, "doc")
            .join(sj, "opp")
            .groupBy("doc")
            .agg(
                _dsum(
                    F.col("g").cast("double") / (F.col("_si") + F.col("_sj"))
                ).alias("den")
            )
        )
        return totals.join(denom, "doc").select(
            "doc",
            _t12(F.col("wins").cast("double") / F.col("den")).alias("r"),
        )

    raw, seen, _ = iterate(
        totals.select("doc", F.lit(1.0).alias("r")), mm_update, iters,
        observe=[_dsum(F.col("r")).alias("t")], plan_hook=plan_hook,
        stage="mm-update",
    )
    wr = Window.orderBy(F.col("s").desc(), F.col("doc").asc())
    return (
        totals.join(strengths(raw, seen), "doc")
        .select(
            F.col("doc").alias(id_col),
            "wins",
            "games",
            F.round(F.col("s"), 6).alias("strength"),
            F.row_number().over(wr).cast("int").alias("rank"),
        )
    )


def spearman_by_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Spearman rank correlation (tie-aware, via average
    ranks + Pearson on the ranks — the textbook definition under
    ties). The training-data-audit question it answers: does the
    quality score just proxy for length (rho -> 1), or carry
    independent signal — per source, so one verbose crawl can't hide
    another's degenerate scorer.

    Exactness: average ranks are kept as DOUBLED integers
    (2·avg_rank = 2·min_rank + tie_count − 1, always integral), every
    moment (Σdx, Σdy, Σdx², Σdy², Σdx·dy) accumulates in
    DECIMAL(38,0) — exact, order-free — and the Pearson numerator /
    denominator are formed in the SAME exact integer arithmetic
    before ONE conversion to double; the doubling cancels. So the
    statistic is bit-identical across engines and partitionings
    (the DuckDB twin runs HUGEINT through the same shape).

    Shape: two window ranks (one shuffle on the group key — ranks and
    moments reuse the same partitioning) + one groupBy. rho is NULL
    for a degenerate group (all x or all y tied).

    Returns (group, n_docs, spearman_rho) with rho rounded 6dp."""
    g = F.col(group_col)
    wq = Window.partitionBy(group_col).orderBy(F.col(x_col))
    wt = Window.partitionBy(group_col).orderBy(F.col(y_col))
    cq = Window.partitionBy(group_col, x_col)
    ct = Window.partitionBy(group_col, y_col)
    ranked = df.select(
        g.alias("grp"),
        (
            2 * F.rank().over(wq) + F.count(F.lit(1)).over(cq) - 1
        ).alias("dx"),
        (
            2 * F.rank().over(wt) + F.count(F.lit(1)).over(ct) - 1
        ).alias("dy"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    mom = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec(F.col("dx"))).alias("sx"),
        F.sum(dec(F.col("dy"))).alias("sy"),
        F.sum(dec(F.col("dx") * F.col("dx"))).alias("sxx"),
        F.sum(dec(F.col("dy") * F.col("dy"))).alias("syy"),
        F.sum(dec(F.col("dx") * F.col("dy"))).alias("sxy"),
    )
    n = dec(F.col("n"))
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    dena = n * F.col("sxx") - F.col("sx") * F.col("sx")
    denb = n * F.col("syy") - F.col("sy") * F.col("sy")
    rho = F.when(
        (dena > 0) & (denb > 0),
        F.round(
            num.cast("double")
            / F.sqrt(dena.cast("double") * denb.cast("double")),
            6,
        ),
    )
    return mom.select(
        F.col("grp").alias(group_col),
        F.col("n").alias("n_docs"),
        rho.alias("spearman_rho"),
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    val_col: str,
    id_col: str,
    ref: DataFrame,
    m: int = 20,
    n_buckets: int = 1024,
    plan_hook=None,
) -> DataFrame:
    """Quantile normalization of a score column onto a REFERENCE
    group's distribution (the cross-source calibration step before
    mixing: a crawl whose quality scorer runs hot gets its scores
    re-expressed as "the value the reference source would have given a
    document at the same percentile").

    Construction is interpolation-FREE and integer-EXACT so both
    engines agree bitwise:
      1. m+1 knots: knot_j = min{ v : cum(v) >= T_j } with cum the
         reference's cumulative DISTINCT-value count and
         T_j = max(⌈j·total/m⌉, 1) — i.e. knot_j is exactly the
         T_j-th order statistic; integer comparisons, no percentile
         interpolation (whose a+(b-a)·g vs (1-g)·a+g·b shapes differ
         across engines) and no double cdf >= j/m boundary rounding;
      2. each row's percentile inside ITS group: percent_rank()
         (exact rational (rank-1)/(n-1));
      3. knot index kx = floor(pct·m + 0.5) (pure floor — no
         round-half-to-even ambiguity) and a broadcast join against
         the (m+1)-row knot frame.

    Scale shape (the r12 verdict's compressed-CDF path): the knot
    search NEVER runs a data-sized cumulative window. One min/max
    pass fixes ``n_buckets`` literal-width value buckets; the
    per-bucket counts (≤ n_buckets longs — model-parameter scale, the
    _two_sample_spine precedent) are pulled to the driver, where the
    exact integer targets T_j locate each knot's CANDIDATE bucket from
    the bucket-level cumulative. Only the ≤ m+1 candidate buckets'
    distinct values re-enter the plan (broadcast semi-join), and the
    within-bucket cumulative window is PARTITIONED BY BUCKET — its
    input is candidate-bucket-sized, not distinct-value-sized. Step
    2 partitions by group (each source ranks independently); the knot
    frame is (m+1) rows.

    Returns (group, id, val, pct, val_norm): pct 6 dp, val_norm = the
    reference-distribution value at the row's percentile."""
    spark = ref.sparkSession
    # PERSIST the reference values: the bounds pull, the bucket
    # histogram pull, and the candidate-bucket join are three jobs
    # over the same (possibly expensive-to-derive) column — without
    # the cache each re-runs the upstream (measured 2x on the battery
    # when the compressed-CDF path first landed). Pinned for
    # end-of-query release (the returned plan depends on it, so this
    # function can't unpersist; r13 ADVICE).
    from ..session import pin_for_query

    vals = pin_for_query(
        ref.select(F.col(val_col).alias("v")).filter(F.col("v").isNotNull())
    )
    bounds = vals.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).collect()[0]
    vtype = ref.schema[val_col].dataType.simpleString()
    if bounds["lo"] is None:
        # empty reference: every knot is NULL (the pre-compression
        # behavior — an agg over an empty histogram)
        knots_wide = spark.range(1).select(
            *[F.lit(None).cast(vtype).alias(f"k{j}") for j in range(m + 1)]
        )
        total = 0
    else:
        lo, hi = float(bounds["lo"]), float(bounds["hi"])
        span = hi - lo
        bid = (
            F.lit(0).cast("int")
            if span == 0.0
            else F.least(
                F.floor((F.col("v") - F.lit(lo)) / F.lit(span) * n_buckets),
                F.lit(n_buckets - 1),
            ).cast("int")
        )
        bcounts = sorted(
            (int(r["b"]), int(r["c"]))
            for r in vals.groupBy(bid.alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        total = sum(c for _, c in bcounts)
        # exact integer targets and their candidate buckets
        cands = {}  # bucket -> exclusive offset
        targets = []
        for j in range(m + 1):
            t_j = max(-((-j * total) // m), 1)  # ceil(j·total/m), ≥ 1
            targets.append(t_j)
            acc = 0
            for b, c in bcounts:
                if acc + c >= t_j:
                    cands[b] = acc
                    break
                acc += c
        cand_df = spark.createDataFrame(
            sorted(cands.items()), "b int, _off bigint"
        )
        wb = Window.partitionBy("b").orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        per_v = (
            vals.withColumn("b", bid)
            .join(F.broadcast(cand_df), "b")
            .groupBy("b", "_off", "v")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(
                "v", (F.col("_off") + F.sum("c").over(wb)).alias("cum")
            )
        )
        if plan_hook is not None:
            plan_hook("knot_cdf", per_v)
        knot_cols = [
            F.min(
                F.when(F.col("cum") >= F.lit(targets[j]), F.col("v"))
            ).alias(f"k{j}")
            for j in range(m + 1)
        ]
        knots_wide = per_v.agg(*knot_cols)
    knots = knots_wide.select(
        F.expr(
            "stack({}, {}) as (kx, knot_v)".format(
                m + 1,
                ", ".join(f"{j}, k{j}" for j in range(m + 1)),
            )
        )
    )
    wp = Window.partitionBy(group_col).orderBy(F.col(val_col))
    rows = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.col(val_col).alias("val"),
        F.percent_rank().over(wp).alias("_pct"),
    ).select(
        "grp",
        "id",
        "val",
        "_pct",
        F.floor(F.col("_pct") * m + F.lit(0.5)).cast("int").alias("kx"),
    )
    return (
        rows.join(F.broadcast(knots), "kx")
        .select(
            F.col("grp").alias(group_col),
            F.col("id").alias(id_col),
            F.col("val").alias(val_col),
            F.round(F.col("_pct"), 6).alias("pct"),
            F.col("knot_v").alias("val_norm"),
        )
    )


def gini_concentration(
    orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """Gini coefficient + top-decile share of customer total spend per
    market segment — the revenue-concentration profile ("how unequal
    is this segment's wallet"), the same lens a data-curation pass
    turns on per-source token budgets.

    Uses the exact finite-population identity on the ascending sort
    x_(1..n):  G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n  — no Lorenz
    integration, no pair join. The rank is a row_number over the
    deterministic total order (spend, custkey), so ties are stable
    across engines; Σ i·x_(i) rides DECIMAL(38,6) with bigint ranks
    (exact in any aggregation order); the two divisions happen once,
    in one shared double expression.

    Scale shape: one groupBy to per-customer spend (map-side
    combined), one per-segment window rank, one per-segment reduce —
    rank windows partition by segment, so the sort is per-segment
    parallel, never global. Returns (c_mktsegment, n_customers,
    total_spend, gini, top10_share) at 6 dp."""
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias(
                "spend"
            )
        )
        .join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
            "o_custkey",
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("spend").asc(), F.col("o_custkey").asc()
    )
    ranked = spend.select(
        "c_mktsegment",
        "o_custkey",
        "spend",
        F.row_number().over(w).cast("bigint").alias("rk"),
    )
    # top-decile membership needs the segment size next to each rank,
    # so stage it through one more window column instead of a re-join
    wall = Window.partitionBy("c_mktsegment")
    staged = ranked.withColumn(
        "n_seg", F.count(F.lit(1)).over(wall).cast("bigint")
    )
    agg = staged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.col("spend").cast("decimal(38,6)")).alias("sx"),
        F.sum(
            (F.col("rk") * F.col("spend")).cast("decimal(38,6)")
        ).alias("six"),
        F.sum(
            F.when(
                F.col("rk") * 10 > F.col("n_seg") * 9, F.col("spend")
            )
            .otherwise(F.lit(0))
            .cast("decimal(38,6)")
        ).alias("s_top"),
    )
    n = F.col("n_customers").cast("double")
    gini = (
        F.lit(2.0) * F.col("six").cast("double")
        / (n * F.col("sx").cast("double"))
        - (n + F.lit(1.0)) / n
    )
    return agg.select(
        "c_mktsegment",
        "n_customers",
        F.round(F.col("sx").cast("double"), 2).alias("total_spend"),
        F.round(gini, 6).alias("gini"),
        F.round(
            F.col("s_top").cast("double") / F.col("sx").cast("double"), 6
        ).alias("top10_share"),
    )


def hill_tail(
    orders: DataFrame, customer: DataFrame, k: int = 50
) -> DataFrame:
    """Hill tail-index estimator (Hill 1975) of customer spend per
    market segment: α̂ = k / Σ_{i=1..k} ln(x_(i)/x_(k+1)) over the
    top-k order statistics — the standard "how heavy is this
    distribution's tail" number (α ≤ 2 ⇒ infinite variance: sampling,
    capping, and salting decisions all key off it; the gini companion
    for the extreme tail).

    Exactness: the order statistics come from a deterministic
    per-segment rank (spend desc, custkey asc); each of the k log
    terms is ONE shared double expression ln(x_i / x_{k+1}) routed
    through DECIMAL(28,12) before the sum (order-free, the CHI2_SUM
    pattern); α is one double division at 6 dp.

    Scale shape: per-customer spend is one map-side-combined groupBy;
    the rank window partitions by segment; everything after the
    rank-(k+1) filter is k-rows-per-segment sized. Returns
    (c_mktsegment, k, n_customers, x_kplus1, hill_alpha)."""
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias(
                "spend_d"
            )
        )
        .join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
            "o_custkey",
        )
        .select(
            "c_mktsegment",
            "o_custkey",
            F.col("spend_d").cast("double").alias("x"),
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("x").desc(), F.col("o_custkey").asc()
    )
    wall = Window.partitionBy("c_mktsegment")
    ranked = spend.select(
        "c_mktsegment",
        "x",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n_seg"),
    ).filter(F.col("rk") <= k + 1)
    thresh = ranked.filter(F.col("rk") == k + 1).select(
        "c_mktsegment", F.col("x").alias("x_k1")
    )
    return (
        ranked.filter(F.col("rk") <= k)
        .join(thresh, "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.max("n_seg").alias("n_customers"),
            F.max("x_k1").alias("_xk1"),
            F.sum(
                F.log(F.col("x") / F.col("x_k1")).cast(
                    "decimal(28,12)"
                )
            ).alias("lsum"),
        )
        .select(
            "c_mktsegment",
            F.lit(k).cast("bigint").alias("k"),
            "n_customers",
            F.round(F.col("_xk1"), 2).alias("x_kplus1"),
            F.round(
                F.lit(float(k)) / F.col("lsum").cast("double"), 6
            ).alias("hill_alpha"),
        )
    )


# Brier per-bin term texts shared verbatim with oracle.BRIER_Q: both
# decomposition terms are pure double arithmetic on exact moments
# (s_sum is DECIMAL, counts BIGINT), routed through DECIMAL(28,12) so
# the ≤ n_bins cross-bin sums are order-free (the CHI2_SUM pattern).
BRIER_REL_TERM = (
    "CAST(n AS DOUBLE) *"
    " (CAST(s_sum AS DOUBLE) / CAST(n AS DOUBLE)"
    "  - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(s_sum AS DOUBLE) / CAST(n AS DOUBLE)"
    "  - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))"
)
BRIER_RES_TERM = (
    "CAST(n AS DOUBLE) *"
    " (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)"
    "  - CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE))"
    " * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)"
    "  - CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE))"
)


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score over the same
    clamped equal-width bins as ``calibration_bins``: BS_binned =
    RELIABILITY − RESOLUTION + UNCERTAINTY — the one-row answer to
    "is my probability score bad because it is MISCALIBRATED
    (reliability, fixable by recalibration) or because it cannot
    SEPARATE outcomes (low resolution, not fixable downstream)".
    Also reports the raw per-forecast Brier score; the raw-vs-binned
    gap is the within-bin variance MINUS within-bin covariance
    (Stephenson et al. 2008) — either sign, shrinking as bins narrow.

    Exactness: per-row squared errors (f − o)² are doubles routed
    through DECIMAL(28,12) (order-free sum); per-bin moments are
    exact (counts BIGINT, score sums DECIMAL); the two decomposition
    terms are the shared ``BRIER_*_TERM`` double expressions routed
    through DECIMAL(28,12) across ≤ n_bins rows; every division is
    shared text. Scale: one map-side-combined groupBy to bins plus
    one ungrouped reduce — nothing after is data-sized.

    Returns one row (n, n_pos, brier_raw, reliability, resolution,
    uncertainty, brier_binned), 6 dp."""
    staged = df.select(
        F.least(
            F.greatest(
                F.floor(F.col(score_col) * n_bins), F.lit(0)
            ),
            F.lit(n_bins - 1),
        )
        .cast("int")
        .alias("bin"),
        F.col(score_col).cast("decimal(28,12)").alias("sdec"),
        F.col(score_col).cast("double").alias("f"),
        F.col(label_col).cast("int").alias("pos"),
    )
    per = staged.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("sdec").alias("s_sum"),
    )
    # the 1-row global moments enter as an uncorrelated scalar
    # subquery (struct, single reference — no 1-row crossJoin/NLJ,
    # r12 verdict item 7)
    raw = staged.groupBy().agg(
        F.struct(
            F.count(F.lit(1)).cast("bigint").alias("tot_n"),
            F.sum("pos").cast("bigint").alias("tot_pos"),
            F.sum(
                (
                    (F.col("f") - F.col("pos").cast("double"))
                    * (F.col("f") - F.col("pos").cast("double"))
                ).cast("decimal(28,12)")
            ).alias("sq_sum"),
        ).alias("t")
    ).scalar()
    terms = per.withColumn("_r", raw).select(
        "bin",
        "n",
        "n_pos",
        "s_sum",
        F.col("_r.tot_n").alias("tot_n"),
        F.col("_r.tot_pos").alias("tot_pos"),
        F.col("_r.sq_sum").alias("sq_sum"),
    ).groupBy("tot_n", "tot_pos", "sq_sum").agg(
        F.sum(F.expr(BRIER_REL_TERM).cast("decimal(28,12)")).alias(
            "rel_sum"
        ),
        F.sum(F.expr(BRIER_RES_TERM).cast("decimal(28,12)")).alias(
            "res_sum"
        ),
    )
    nd = F.col("tot_n").cast("double")
    obar = F.col("tot_pos").cast("double") / nd
    rel = F.col("rel_sum").cast("double") / nd
    res = F.col("res_sum").cast("double") / nd
    unc = obar * (F.lit(1.0) - obar)
    return terms.select(
        F.col("tot_n").alias("n"),
        F.col("tot_pos").alias("n_pos"),
        F.round(F.col("sq_sum").cast("double") / nd, 6).alias(
            "brier_raw"
        ),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(rel - res + unc, 6).alias("brier_binned"),
    )


def pareto_cut(
    orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """Pareto 80/20 cut of customer spend per market segment: the
    smallest top-ranked customer set whose cumulative spend reaches
    80% of the segment total — "how few wallets carry this segment",
    the actionable companion to ``gini_concentration``'s index (and
    the same question a curation pass asks of per-source token
    budgets).

    Exactness: spend and cumulative spend are exact DECIMALs over a
    deterministic rank (spend desc, custkey asc); the 80% threshold
    compares 5·cum ≥ 4·total in EXACT decimal arithmetic — no float
    enters until the two reported shares (one double division each,
    6 dp).

    Scale shape: one map-side-combined groupBy to per-customer spend,
    one per-segment rank window (parallel by segment), one per-segment
    reduce. Returns (c_mktsegment, n_customers, n_top80,
    cust_share, spend_share)."""
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias(
                "spend"
            )
        )
        .join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
            "o_custkey",
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("spend").desc(), F.col("o_custkey").asc()
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("c_mktsegment")
    staged = spend.select(
        "c_mktsegment",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.sum(F.col("spend").cast("decimal(38,6)")).over(wcum).alias(
            "cum"
        ),
        F.sum(F.col("spend").cast("decimal(38,6)")).over(wall).alias(
            "total"
        ),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n_seg"),
    )
    hit = staged.filter(
        F.col("cum") * 5 >= F.col("total") * 4
    ).withColumn(
        "pick",
        F.row_number().over(
            Window.partitionBy("c_mktsegment").orderBy("rk")
        ),
    )
    return (
        hit.filter(F.col("pick") == 1)
        .select(
            "c_mktsegment",
            F.col("n_seg").alias("n_customers"),
            F.col("rk").alias("n_top80"),
            F.round(
                F.col("rk").cast("double") / F.col("n_seg").cast("double"),
                6,
            ).alias("cust_share"),
            F.round(
                F.col("cum").cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("spend_share"),
        )
        .orderBy("c_mktsegment")
    )


def _two_sample_spine(
    events: DataFrame,
    type_a: str,
    type_b: str,
    value_col: str = "value",
    n_ranges: int = 16,
) -> DataFrame:
    """Shared cumulative spine for the rank/EDF two-sample tests
    (``ks_two_sample``, ``mann_whitney``): per distinct value v of the
    pooled samples, the counts (c_a, c_b) at v and the inclusive
    cumulative counts (cum_a, cum_b) up to v in value order — i.e. the
    un-normalized empirical CDFs of both samples evaluated at every
    pooled jump point.

    Scale shape: the distinct-value spine is data-sized, so the
    cumulative counts are the TWO-PASS PARTITIONED PREFIX SUM (the
    heaps_law remedy, corpus._heaps_spine): value-range buckets from
    one min/max pass (deterministic double arithmetic — stable across
    re-evaluation), per-bucket subtotals collected (``n_ranges`` rows),
    driver-folded exclusive offsets broadcast back, and a LOCAL window
    cumsum per bucket — never an ``Exchange SinglePartition`` over the
    spine.

    Returns (v, c_a, c_b, cum_a, cum_b) — all counts exact bigints."""
    flagged = events.filter(
        F.col("event_type").isin([type_a, type_b])
        # NULL values would land in a NULL pid bucket and crash the
        # driver-side offset fold; both engines drop them up front so
        # the spines stay aligned by construction
        & F.col(value_col).isNotNull()
    ).select(
        F.col(value_col).alias("v"),
        F.when(F.col("event_type") == type_a, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_a"),
    )
    per_v = flagged.groupBy("v").agg(
        F.sum("is_a").alias("c_a"),
        (F.count(F.lit(1)) - F.sum("is_a")).cast("bigint").alias("c_b"),
    )
    spark = events.sparkSession
    bounds = per_v.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).collect()[0]
    if bounds["lo"] is None:
        return spark.createDataFrame(
            [], "v double, c_a bigint, c_b bigint, cum_a bigint, cum_b bigint"
        )
    lo, hi = float(bounds["lo"]), float(bounds["hi"])
    span = hi - lo
    pid = (
        F.lit(0).cast("int")
        if span == 0.0
        else F.least(
            F.floor((F.col("v") - F.lit(lo)) / F.lit(span) * n_ranges),
            F.lit(n_ranges - 1),
        ).cast("int")
    )
    staged = per_v.withColumn("pid", pid)
    subs = sorted(
        (int(r["pid"]), int(r["s_a"]), int(r["s_b"]))
        for r in staged.groupBy("pid")
        .agg(F.sum("c_a").alias("s_a"), F.sum("c_b").alias("s_b"))
        .collect()
    )
    offs, o_a, o_b = [], 0, 0
    for p, s_a, s_b in subs:
        offs.append((p, o_a, o_b))
        o_a, o_b = o_a + s_a, o_b + s_b
    off_df = spark.createDataFrame(offs, "pid int, off_a bigint, off_b bigint")
    w = Window.partitionBy("pid").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return staged.join(F.broadcast(off_df), "pid").select(
        "v",
        "c_a",
        "c_b",
        (F.col("off_a") + F.sum("c_a").over(w)).cast("bigint").alias("cum_a"),
        (F.col("off_b") + F.sum("c_b").over(w)).cast("bigint").alias("cum_b"),
    )


def ks_two_sample(
    events: DataFrame, type_a: str = "purchase", type_b: str = "click"
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the value
    distributions of two event types — the standard distribution-free
    "did this metric's shape move" screen next to psi_drift's binned
    variant (Massey 1951). D = sup_v |F_a(v) - F_b(v)|, evaluated at
    every pooled jump point via the shared prefix-sum spine
    (``_two_sample_spine``) and kept EXACT by cross-multiplication:
    d_num = max |cum_a·n_b - cum_b·n_a| is an integer, and D is the
    single terminal division d_num / (n_a·n_b).

    The (n_a, n_b) totals enter as ONE uncorrelated scalar subquery
    (a struct, threaded through a single column reference — the
    sketches.py precedent), so the plan is subquery + one aggregate:
    no 1-row crossJoin, no BroadcastNestedLoopJoin (r12 verdict item
    7 — the global no-NLJ sweep holds this query unconditionally).

    Returns one row (n_a, n_b, d_num, ks_d)."""
    spine = _two_sample_spine(events, type_a, type_b)
    tot = spine.agg(
        F.struct(
            F.max("cum_a").alias("n_a"), F.max("cum_b").alias("n_b")
        ).alias("t")
    ).scalar()
    return (
        spine.withColumn("_t", tot)
        .select(
            "_t",
            F.abs(
                F.col("cum_a") * F.col("_t.n_b")
                - F.col("cum_b") * F.col("_t.n_a")
            ).alias("diff"),
        )
        .agg(
            F.max("_t.n_a").cast("bigint").alias("n_a"),
            F.max("_t.n_b").cast("bigint").alias("n_b"),
            F.max("diff").cast("bigint").alias("d_num"),
        )
        .select(
            "n_a",
            "n_b",
            "d_num",
            (
                F.col("d_num").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("ks_d"),
        )
    )


def mann_whitney(
    events: DataFrame, type_a: str = "purchase", type_b: str = "click"
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between two event types'
    values — the nonparametric "is one sample stochastically larger"
    companion to ks_two_sample's shape test (Mann & Whitney 1947).
    Kept EXACT by doubling: with ties counting half,
    2·U_a = Σ_v c_a(v)·(2·cum_b(v-) + c_b(v)) over the shared spine —
    an integer (cum_b(v-) = the strictly-below cumulative). The rank-
    biserial effect size r = 2U_a/(n_a·n_b) - 1 is one terminal
    division off the exact integers.

    The totals enter as one uncorrelated scalar subquery (struct,
    single reference — no 1-row crossJoin/NLJ, r12 verdict item 7).

    Returns one row (n_a, n_b, u2x, rank_biserial) with u2x = 2·U_a."""
    spine = _two_sample_spine(events, type_a, type_b)
    tot = spine.agg(
        F.struct(
            F.max("cum_a").alias("n_a"), F.max("cum_b").alias("n_b")
        ).alias("t")
    ).scalar()
    return (
        spine.select(
            (
                F.col("c_a")
                * (2 * (F.col("cum_b") - F.col("c_b")) + F.col("c_b"))
            ).alias("contrib")
        )
        .agg(F.sum("contrib").cast("bigint").alias("u2x"))
        .withColumn("_t", tot)
        .select(
            F.col("_t.n_a").cast("bigint").alias("n_a"),
            F.col("_t.n_b").cast("bigint").alias("n_b"),
            "u2x",
            (
                F.col("u2x").cast("double")
                / (F.col("_t.n_a") * F.col("_t.n_b")).cast("double")
                - F.lit(1.0)
            ).alias("rank_biserial"),
        )
    )


def lorenz_deciles(orders: DataFrame, tiles: int = 10) -> DataFrame:
    """Lorenz curve at deciles of customer revenue — the curve behind
    gini_concentration's scalar: customers ntile'd by total spend
    (ascending, custkey tie-break), each decile's exact-DECIMAL revenue
    and the cumulative share of total revenue. The ''bottom 50% of
    customers hold x% of revenue'' readout.

    Scale shape: ONE map-side-combined per-customer aggregate, then
    the DISTRIBUTED-RANK ntile (the acctbal_deciles construction — a
    bare ``ntile() OVER (ORDER BY ...)`` would ship every customer row
    to one reducer): deterministic ``repartitionByRange`` on the sort
    key, per-partition counts folded into broadcast offsets, LOCAL
    row_number per range partition + offset = exact global rank, then
    the first-N%t-tiles-get-⌈N/t⌉ arithmetic — bit-identical to ntile
    with every exchange parallel. The per-decile DECIMAL sums (≤
    ``tiles`` rows — model-parameter scale) are pulled to the driver
    and cumulated EXACTLY in Python decimal (the heaps-offsets
    precedent), so the result frame is ``tiles`` literal rows with no
    single-partition window anywhere. Doubles appear only at the two
    terminal emissions.

    Returns (decile, n_cust, decile_rev, cum_share) — decile 1..tiles
    asc, decile_rev 4-dp, cum_share 6-dp."""
    spark = orders.sparkSession
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev")
    )
    key = [F.col("rev").asc(), F.col("o_custkey").asc()]
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # persist BEFORE the counts collect: the offset map and the decile
    # aggregation are two separately planned jobs, and RangePartitioner
    # boundary sampling is only guaranteed identical when both jobs
    # read the one materialized partitioning (not two re-samplings)
    ranged = (
        per_cust.repartitionByRange(shuffle_n, *key)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    acc, offsets = 0, {}
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = acc
        acc += r["_n"]
    total_n = acc
    out_schema = (
        "decile int, n_cust bigint, decile_rev double, cum_share double"
    )
    if total_n == 0:
        ranged.unpersist()
        return spark.createDataFrame([], out_schema)
    off_map = F.map_from_arrays(
        F.array(*[F.lit(p) for p in offsets]),
        F.array(*[F.lit(v) for v in offsets.values()]),
    )
    w = Window.partitionBy("_pid").orderBy(*key)
    rank = (
        F.row_number().over(w).cast("long") + off_map[F.col("_pid")]
    ).alias("_rank")
    base, rem = total_n // tiles, total_n % tiles
    cut = rem * (base + 1)
    decile = (
        F.when(F.col("_rank") <= cut, F.expr(f"(_rank - 1) DIV {base + 1}"))
        .otherwise(F.expr(f"{rem} + (_rank - {cut} - 1) DIV {max(base, 1)}"))
        .cast("int")
        + 1
    ).alias("decile")
    per_dec = sorted(
        (int(r["decile"]), int(r["n_cust"]), r["drev"])
        for r in ranged.select("rev", rank)
        .select("rev", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.sum("rev").alias("drev"),
        )
        .collect()
    )
    ranged.unpersist()
    total_rev = sum(d for _, _, d in per_dec)  # exact decimal.Decimal
    rows, cum = [], None
    for d, n, drev in per_dec:
        cum = drev if cum is None else cum + drev  # exact
        rows.append((d, n, float(drev), float(cum) / float(total_rev)))
    # float(Decimal) is the correctly-rounded decimal->double cast —
    # identical to the engines' CAST(DECIMAL AS DOUBLE) — and the
    # share division is one IEEE op on those bits; the final 4/6-dp
    # rounds run in Spark so the round-half convention matches the
    # rest of the repo (Spark round == oracle round here: both see
    # the identical double)
    lf = spark.createDataFrame(
        rows, "decile int, n_cust bigint, _rev double, _share double"
    )
    return lf.select(
        "decile",
        "n_cust",
        F.round("_rev", 4).alias("decile_rev"),
        F.round("_share", 6).alias("cum_share"),
    ).orderBy("decile")


def cvm_two_sample(
    events: DataFrame, type_a: str = "purchase", type_b: str = "click"
) -> DataFrame:
    """Two-sample Cramér–von Mises drift statistic — the INTEGRATED
    EDF distance completing the drift family (psi_drift binned,
    ks_two_sample sup-norm, this one the full ∫(F_a − F_b)² that
    catches many-small-deviations shapes a single sup point misses;
    Anderson 1962). Over the pooled-jump EDF formulation:

      T = n_a·n_b/(n_a+n_b)² · Σ_v w_v · (F_a(v) − F_b(v))²

    with w_v the pooled count at v. Kept EXACT by cross-
    multiplication: t_num = Σ_v w_v·(cum_a·n_b − cum_b·n_a)² is an
    integer (summed through DECIMAL(38,0) — the squared term alone can
    pass 10¹⁷ at sf0.1, past int64 partial-sum comfort), and T is one
    terminal division by (n_a+n_b)²·(n_a·n_b).

    Shares ``_two_sample_spine`` (the partitioned-prefix-sum EDF — no
    single-partition window). Returns one row (n_a, n_b, t_num,
    cvm_t)."""
    spine = _two_sample_spine(events, type_a, type_b)
    # totals enter as one uncorrelated scalar subquery (struct, single
    # reference — no 1-row crossJoin/NLJ, r12 verdict item 7)
    tot = spine.agg(
        F.struct(
            F.max("cum_a").alias("n_a"), F.max("cum_b").alias("n_b")
        ).alias("t")
    ).scalar()
    # cast to DECIMAL(38,0) BEFORE squaring: d itself fits int64
    # whenever n_a·n_b does (same bound as ks_two_sample), but d² wraps
    # int64 once |d| passes ~3.03e9 — squaring must happen in decimal
    d = (
        F.col("cum_a") * F.col("_t.n_b") - F.col("cum_b") * F.col("_t.n_a")
    ).cast("decimal(38,0)")
    return (
        spine.withColumn("_t", tot)
        .select(
            "_t",
            (
                (F.col("c_a") + F.col("c_b")).cast("decimal(38,0)")
                * (d * d)
            ).alias("term"),
        )
        .agg(
            F.max("_t.n_a").cast("bigint").alias("n_a"),
            F.max("_t.n_b").cast("bigint").alias("n_b"),
            F.sum("term").cast("decimal(38,0)").alias("t_num"),
        )
        .select(
            "n_a",
            "n_b",
            F.col("t_num").cast("double").alias("t_num"),
            (
                F.col("t_num").cast("double")
                / (
                    (F.col("n_a") + F.col("n_b"))
                    * (F.col("n_a") + F.col("n_b"))
                ).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("cvm_t"),
        )
    )


def moments_profile(
    events: DataFrame,
    value_col: str = "value",
    unit: int = 1000,
) -> DataFrame:
    """Per-event-type higher-moment profile — mean, std, skewness
    (g1) and excess kurtosis (g2) of the value distribution — the
    shape summary that tells a curation pass whether a metric is
    heavy-tailed or lopsided before thresholds get set.

    Exactness, the acf_lags integer-unit discipline: values are
    quantized to exact BIGINT ``unit``-ths (milli-units by default),
    the four raw power sums S1..S4 accumulate in DECIMAL(38,0) —
    order-independent, no float summation tree — and every reported
    statistic is ONE fixed double expression over the exact sums.
    g1 = m3/(m2·√m2) and g2 = m4/m2² − 3 are scale-free, so the unit
    cancels entirely there (√ is correctly rounded IEEE in both
    engines; no pow()); only mean/std divide by the unit. Headroom:
    S4 ≈ n·(unit·|x|)⁴ — at corpus magnitudes that push past 1e38,
    drop ``unit`` (the YI note's trade).

    Scale shape: one map-side-combined groupBy over |event_types|
    keys; nothing else. Returns (event_type, n, mean, std, skewness,
    kurtosis_excess) — 6 dp, NULL shape stats on degenerate (m2 = 0)
    groups."""
    agg = moments_power_sums(events, value_col, unit)
    return moments_assembly(agg, unit)


def moments_power_sums(
    events: DataFrame, value_col: str = "value", unit: int = 1000
) -> DataFrame:
    """The exact sufficient statistics: per event_type, n and the
    DECIMAL(38,0) power sums S1..S4 of the ``unit``-quantized value —
    shared by the batch profile and the streaming monitor (whose
    update-mode state is exactly this frame)."""
    # the explicit decimal-space round(...,0) before the BIGINT cast is
    # load-bearing: a bare decimal->bigint cast TRUNCATES in Spark but
    # rounds half-away in DuckDB, so any sub-1/unit precision in the
    # value silently diverged between engine and twin (r13 ADVICE);
    # round on DECIMAL is exact arithmetic with identical
    # half-away-from-zero ties in both engines (probed incl. negatives)
    y = F.expr(
        f"CAST(round(CAST({value_col} AS DECIMAL(18,6)) * {unit}, 0)"
        " AS BIGINT)"
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return (
        events.filter(F.col(value_col).isNotNull())
        .select("event_type", y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(dec(F.col("y"))).alias("s1"),
            F.sum(dec(F.col("y") * F.col("y"))).alias("s2"),
            F.sum(dec(F.col("y")) * dec(F.col("y")) * dec(F.col("y"))).alias(
                "s3"
            ),
            F.sum(
                dec(F.col("y") * F.col("y")) * dec(F.col("y") * F.col("y"))
            ).alias("s4"),
        )
    )


def moments_assembly(agg: DataFrame, unit: int = 1000) -> DataFrame:
    """The fixed double assembly over (event_type, n, s1..s4) — one
    expression tree, identical in both engines and in the streaming
    drain path."""
    nd = F.col("n").cast("double")
    r1 = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    m2 = r2 - r1 * r1
    m3 = r3 - F.lit(3.0) * r1 * r2 + F.lit(2.0) * r1 * r1 * r1
    m4 = (
        r4
        - F.lit(4.0) * r1 * r3
        + F.lit(6.0) * r1 * r1 * r2
        - F.lit(3.0) * r1 * r1 * r1 * r1
    )
    u = F.lit(float(unit))
    return agg.select(
        "event_type",
        "n",
        F.round(r1 / u, 6).alias("mean"),
        F.round(F.sqrt(m2) / u, 6).alias("std"),
        F.when(m2 > 0, F.round(m3 / (m2 * F.sqrt(m2)), 6)).alias(
            "skewness"
        ),
        F.when(m2 > 0, F.round(m4 / (m2 * m2) - F.lit(3.0), 6)).alias(
            "kurtosis_excess"
        ),
    )
