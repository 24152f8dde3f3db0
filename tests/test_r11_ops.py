"""Round-11 operators: Count-Min heavy-hitter n-grams (structural
over-count guarantee, merge exactness, the ε·N error bound on a fixed
corpus) and the staged HITS lifecycle."""

from __future__ import annotations

import pytest

import math
import random
from collections import Counter

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark import queries as Q
from banking_data_etl_pipeline_spark.operators import sketches

from conftest import SF_DIR

_WORD = st.sampled_from(["aa", "bb", "cc", "dd"])
_DOC = st.lists(_WORD, min_size=0, max_size=20).map(" ".join)


def _brute_ngrams(texts, n=3) -> Counter:
    c: Counter = Counter()
    for t in texts:
        toks = [w for w in t.lower().split() if w]
        for i in range(len(toks) - n + 1):
            c[" ".join(toks[i : i + n])] += 1
    return c


@settings(max_examples=6, deadline=None)
@given(st.lists(_DOC, min_size=1, max_size=8))
def test_cms_exact_counts_and_overcount_nonneg(spark, texts):
    """The exact leg must equal brute force, and the sketch can only
    OVER-count (collisions add) — w=8/d=2 forces collisions so the
    invariant is exercised, not vacuous."""
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = sketches.cms_ngram_hitters_exact(
        docs, n=3, d=2, w=8, k=50
    ).collect()
    want = _brute_ngrams(texts)
    got = {r.ngram: r.exact_count for r in rows}
    top = dict(
        sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    )
    assert got == top
    for r in rows:
        assert r.overcount >= 0
        assert r.estimate == r.exact_count + r.overcount


@settings(max_examples=4, deadline=None)
@given(st.lists(_DOC, min_size=2, max_size=8))
def test_cms_counters_merge_exactly(spark, texts):
    """Counter tables SUM-merge: build over the full corpus == cell-wise
    sum of the two halves' tables — the mergeability that makes the
    sketch shardable for free."""
    full = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    _g, c_full, _b = sketches._cms_ngram_parts(full, 3, 2, 8, "text")
    halves = []
    for i in (0, 1):
        h = full.filter(F.col("doc_id") % 2 == i)
        _g, c, _b = sketches._cms_ngram_parts(h, 3, 2, 8, "text")
        halves.append(c)
    merged = (
        halves[0]
        .unionByName(halves[1])
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    as_map = lambda df: {
        (r.j, r.bucket): r.cnt for r in df.collect()
    }
    assert as_map(c_full) == as_map(merged)


def test_cms_error_bound_on_fixed_corpus(spark):
    """CM bound: P[est > exact + (e/w)·N] <= e^-d per key. On a fixed
    corpus (fixed salts => fully deterministic) the violating-key
    fraction must sit within ~2.7x of the e^-d expectation."""
    rng = random.Random(0)
    vocab = [f"w{i}" for i in range(30)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(40)) for _ in range(120)
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    d, w = 4, 64
    rows = sketches.cms_ngram_hitters_exact(
        docs, n=3, d=d, w=w, k=10_000
    ).collect()
    n_total = sum(r.exact_count for r in rows)
    bound = math.e / w * n_total
    bad = sum(1 for r in rows if r.overcount > bound)
    assert len(rows) > 500  # the bound test has teeth
    assert bad / len(rows) <= 0.05  # e^-4 ~ 1.8% expected


def test_cms_sketch_ranking_dominates_exact_top1(spark):
    """Estimates dominate true counts, so the sketch ranking's top
    estimate must be >= the true top count — a heavy hitter can never
    be pushed OUT of the sketch's view, only impostors pushed in."""
    texts = ["a b c a b c a b c", "x y z", "a b c d e"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    sk = sketches.cms_ngram_hitters(docs, n=3, d=2, w=8, k=5).collect()
    ex = sketches.cms_ngram_hitters_exact(
        docs, n=3, d=2, w=8, k=5
    ).collect()
    assert sk[0].rank == 1 and ex[0].rank == 1
    assert sk[0].estimate >= ex[0].exact_count


@pytest.mark.slowtier
def test_hits_prebuilt_equals_staged_hits(spark):
    """The dual-orientation probe must reproduce the single-orientation
    staged result exactly (same oracle; this pins Spark-vs-Spark too)."""
    a = sorted(map(tuple, Q.hits(spark, SF_DIR).collect()))
    b = sorted(map(tuple, Q.hits_prebuilt(spark, SF_DIR).collect()))
    assert a == b and len(a) > 0


# --------------------------------------------------------------- RBO


def _runs(spark, rows):
    return spark.createDataFrame(
        rows, "query_id long, vec_id long, rank int"
    )


def test_rbo_identity_disjoint_and_rank_sensitivity(spark):
    from banking_data_etl_pipeline_spark.operators import retrieval

    a = _runs(spark, [(1, 100 + r, r) for r in range(1, 11)])
    same = retrieval.rbo_overlap(a, a, k=10, p=0.9).collect()[0]
    assert same.rbo == 1.0 and same.n_common == 10
    b = _runs(spark, [(1, 200 + r, r) for r in range(1, 11)])
    assert retrieval.rbo_overlap(a, b, k=10, p=0.9).collect()[0].rbo == 0.0
    # swap ranks 1 and 10: same SET, lower rbo — rank sensitivity,
    # which recall@k cannot see
    rows = [(1, 100 + r, r) for r in range(2, 10)]
    rows += [(1, 110, 1), (1, 101, 10)]
    c = _runs(spark, rows)
    mixed = retrieval.rbo_overlap(a, c, k=10, p=0.9).collect()[0]
    assert 0.0 < mixed.rbo < 1.0
    # SAME set both sides — set-level recall@10 would read 1.0, RBO
    # sees the rank swap
    assert mixed.n_common == 10


def test_rbo_matches_bruteforce_definition(spark):
    from banking_data_etl_pipeline_spark.operators import retrieval

    k, p = 10, 0.9
    rng = random.Random(7)
    ids = list(range(20))
    rng.shuffle(ids)
    a_list, b_list = ids[:k], ids[5:15]
    a = _runs(spark, [(1, v, r + 1) for r, v in enumerate(a_list)])
    b = _runs(spark, [(1, v, r + 1) for r, v in enumerate(b_list)])
    want = sum(
        p ** (d - 1)
        * len(set(a_list[:d]) & set(b_list[:d]))
        / d
        for d in range(1, k + 1)
    ) * (1 - p) / (1 - p**k)
    got = retrieval.rbo_overlap(a, b, k=k, p=p).collect()[0].rbo
    assert abs(got - want) < 1e-6


# ---------------------------------------------------------- Spearman


def _brute_spearman(xs, ys):
    def avg_ranks(v):
        order = sorted(range(len(v)), key=lambda i: v[i])
        r = [0.0] * len(v)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and v[order[j]] == v[order[i]]:
                j += 1
            ar = (i + j - 1) / 2.0 + 1.0
            for t in range(i, j):
                r[order[t]] = ar
            i = j
        return r

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(xs)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    da = math.sqrt(sum((a - mx) ** 2 for a in rx))
    db = math.sqrt(sum((b - my) ** 2 for b in ry))
    return num / (da * db) if da > 0 and db > 0 else None


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)),
        min_size=3,
        max_size=25,
    )
)
def test_spearman_matches_bruteforce(spark, pts):
    from banking_data_etl_pipeline_spark.operators import profiling

    df = spark.createDataFrame(
        [("g", float(x), float(y)) for x, y in pts],
        "grp string, x double, y double",
    )
    row = profiling.spearman_by_group(df, "grp", "x", "y").collect()[0]
    want = _brute_spearman([p[0] for p in pts], [p[1] for p in pts])
    if want is None:
        assert row.spearman_rho is None
    else:
        assert abs(row.spearman_rho - want) < 5.1e-7  # 6-dp rounding
    assert row.n_docs == len(pts)


def test_spearman_monotone_and_reversed(spark):
    from banking_data_etl_pipeline_spark.operators import profiling

    rows = [("a", float(i), float(i * 2)) for i in range(10)]
    rows += [("b", float(i), float(-i)) for i in range(10)]
    df = spark.createDataFrame(rows, "grp string, x double, y double")
    got = {
        r.grp: r.spearman_rho
        for r in profiling.spearman_by_group(df, "grp", "x", "y").collect()
    }
    assert got == {"a": 1.0, "b": -1.0}


# ----------------------------------------------------------- Benford


def test_benford_audit_shape_and_localization(spark):
    from banking_data_etl_pipeline_spark.operators import expectations

    # powers of 2 are a classic Benford-conformant sequence; a
    # constant-leading-digit column is the classic violation
    vals = [(float(2**i),) for i in range(1, 40)]
    good = expectations.benford_first_digit(
        spark.createDataFrame(vals, "v double"), "v"
    ).collect()
    assert len(good) == 9
    assert sum(r.n for r in good) == len(vals)
    assert abs(sum(r.frac for r in good) - 1.0) < 1e-4
    bad = expectations.benford_first_digit(
        spark.createDataFrame([(9000.0 + i,) for i in range(50)], "v double"),
        "v",
    ).collect()
    chi_good = sum(r.chi2_term for r in good)
    chi_bad = sum(r.chi2_term for r in bad)
    assert chi_bad > chi_good * 5


def test_benford_audit_of_no_values_is_neutral(spark):
    """A column with no values keeps the nine digit rows, with n 0 and
    NULL fraction and chi2 term, as the DuckDB twin does, not an ANSI
    DIVIDE_BY_ZERO."""
    import duckdb

    from banking_data_etl_pipeline_spark import oracle
    from banking_data_etl_pipeline_spark.operators import expectations

    out = expectations.benford_first_digit(
        spark.createDataFrame([], "o_totalprice double"), "o_totalprice"
    ).collect()
    got = sorted((r.digit, r.n, r.frac, r.chi2_term) for r in out)
    assert got == [(d, 0, None, None) for d in range(1, 10)]
    con = duckdb.connect()
    con.execute("CREATE TABLE orders (o_totalprice DOUBLE)")
    twin = con.execute(oracle.benford_sql()).fetchall()
    assert sorted((r[0], r[1], r[2], r[4]) for r in twin) == got


# ------------------------------------------------ quantile normalize


def test_quantile_normalize_reference_and_monotone(spark):
    from banking_data_etl_pipeline_spark.operators import profiling

    rng = random.Random(3)
    rows = [("ref", i, float(rng.randint(0, 100))) for i in range(200)]
    rows += [("hot", 1000 + i, float(50 + rng.randint(0, 100))) for i in range(150)]
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    ref = df.filter(F.col("grp") == "ref")
    out = profiling.quantile_normalize(df, "grp", "v", "id", ref, m=20)
    got = out.collect()
    assert len(got) == 350
    ref_vals = {r.v for r in ref.collect()}
    by_grp: dict = {}
    for r in got:
        # normalized values are drawn FROM the reference distribution
        assert r.val_norm in ref_vals
        by_grp.setdefault(r.grp, []).append((r.v, r.val_norm))
    # monotone within each group: higher raw value never maps lower
    for pairs in by_grp.values():
        pairs.sort()
        for (v1, n1), (v2, n2) in zip(pairs, pairs[1:]):
            assert n1 <= n2


# ------------------------------------------------- CMS incremental


def test_cms_incremental_ranking_equals_full_build(spark):
    texts = [f"{'a b c ' * (i % 4 + 1)}x{i} y z" for i in range(20)]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    _g, c_old, _b = sketches._cms_ngram_parts(
        docs.filter(F.col("doc_id") % 5 != 0), 3, 2, 16, "text"
    )
    _g, c_new, _b = sketches._cms_ngram_parts(
        docs.filter(F.col("doc_id") % 5 == 0), 3, 2, 16, "text"
    )
    merged = (
        c_old.unionByName(c_new)
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    grams, c_full, bucket = sketches._cms_ngram_parts(docs, 3, 2, 16, "text")
    inc = sketches.cms_rank_candidates(
        grams.distinct(), merged, bucket, 2, 10
    ).collect()
    full = sketches.cms_rank_candidates(
        grams.distinct(), c_full, bucket, 2, 10
    ).collect()
    assert [tuple(r) for r in inc] == [tuple(r) for r in full]


# -------------------------------------------------------------- MASE


def test_mase_handles_gaps_and_matches_bruteforce(spark):
    from datetime import datetime, timedelta

    from banking_data_etl_pipeline_spark.operators import timeseries

    base = datetime(2025, 1, 1, 0, 0, 0)
    series = {}  # hour offset -> value, WITH a gap at offset 26
    for off in list(range(0, 30)) + list(range(48, 60)):
        if off == 26:
            continue
        series[off] = float(10 + (off * 7) % 13)
    rows = [
        (i, base + timedelta(hours=off), 1, "t", v, "{}")
        for i, (off, v) in enumerate(sorted(series.items()))
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = timeseries.mase_eval(ev, season_hours=24).collect()[0]
    seas = [
        abs(series[o] - series[o - 24])
        for o in series
        if o - 24 in series
    ]
    nai = [
        abs(series[o] - series[o - 1]) for o in series if o - 1 in series
    ]
    assert got.n_seasonal == len(seas)
    assert got.n_naive == len(nai)
    assert abs(got.mae_seasonal - sum(seas) / len(seas)) < 5.1e-7
    assert abs(got.mae_naive1 - sum(nai) / len(nai)) < 5.1e-7
    want_mase = (sum(seas) / len(seas)) / (sum(nai) / len(nai))
    assert abs(got.mase - want_mase) < 5.1e-7


# -------------------------------------------------------- Matryoshka


def test_prefix_recall_bounds_and_identity(spark):
    from banking_data_etl_pipeline_spark.operators import similarity

    run = _runs(spark, [(1, 100 + r, r) for r in range(1, 11)])
    ident = similarity.prefix_recall(run, run, k=10).collect()[0]
    assert (ident.n_common, ident.recall) == (10, 1.0)
    other = _runs(
        spark,
        [(1, 100 + r, r) for r in range(1, 6)]
        + [(1, 300 + r, r) for r in range(6, 11)],
    )
    half = similarity.prefix_recall(run, other, k=10).collect()[0]
    assert (half.n_common, half.recall) == (5, 0.5)
