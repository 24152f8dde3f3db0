"""Round-11f operators: streaming HLL registers, lead-lag CCF,
deterministic negative sampling."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
from collections import Counter

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import sampling, sketches, timeseries
from banking_data_etl_pipeline_spark.sources import tables
from banking_data_etl_pipeline_spark.streaming import events as EV

from conftest import SF_DIR

EPOCH = dt.datetime(2024, 1, 1)


def test_stream_hll_split_delivery_equals_batch(spark, tmp_path):
    # registers merge with MAX, so two micro-batches must reproduce
    # the batch sketch row EXACTLY (estimate, n_used, error — all of it)
    ev = tables.load(spark, SF_DIR, "events")
    d = str(tmp_path / "feed")
    os.makedirs(d)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        d, mode="append"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        d, mode="append"
    )
    got = EV.hll_stream(spark, d, ev).collect()
    want = sketches.hll_distinct(ev).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def _hourly_pair_events(spark, series_by_type):
    rows = [
        (etype, EPOCH + dt.timedelta(hours=h), float(v))
        for etype, series in series_by_type.items()
        for h, v in enumerate(series)
        if v is not None
    ]
    return spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double"
    )


def test_leadlag_ccf_detects_a_shifted_copy(spark):
    base = [1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0] * 3
    # b leads a by 2 hours: a_t = b_{t-2}
    a = [None, None] + base
    b = base + [None, None]
    ev = _hourly_pair_events(spark, {"a": a, "b": b})
    rows = {
        (r.type_a, r.type_b, r.lag): r.ccf
        for r in timeseries.leadlag_ccf(ev).collect()
    }
    assert rows[("a", "b", 2)] == 1.0
    assert rows[("a", "b", 2)] > rows[("a", "b", 1)]


def _brute_ccf(sa, sb, lag):
    va = {
        h: round(v * 1_000_000) for h, v in enumerate(sa) if v is not None
    }
    vb = {
        h: round(v * 1_000_000) for h, v in enumerate(sb) if v is not None
    }
    pairs = [(va[h], vb[h - lag]) for h in va if h - lag in vb]
    n = len(pairs)
    if n == 0:
        return None
    s1 = sum(a for a, _ in pairs)
    s2 = sum(b for _, b in pairs)
    s12 = sum(a * b for a, b in pairs)
    s11 = sum(a * a for a, _ in pairs)
    s22 = sum(b * b for _, b in pairs)
    da, db = n * s11 - s1 * s1, n * s22 - s2 * s2
    if da <= 0 or db <= 0:
        return None
    return round((n * s12 - s1 * s2) / math.sqrt(da * db), 6)


def test_leadlag_ccf_matches_brute_force(spark):
    sa = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, None, 5.0]
    sb = [2.0, 7.0, 1.0, 8.0, None, 8.0, 1.0, 8.0, 2.0, 8.0]
    ev = _hourly_pair_events(spark, {"a": sa, "b": sb})
    rows = {
        (r.type_a, r.type_b, r.lag): r.ccf
        for r in timeseries.leadlag_ccf(ev).collect()
    }
    for lag in (0, 1, 2):
        want = _brute_ccf(sa, sb, lag)
        assert rows[("a", "b", lag)] == want
        assert rows[("b", "a", lag)] == _brute_ccf(sb, sa, lag)


def _brute_negsamp(texts, k=4):
    cf = Counter()
    for _d, t in texts:
        for w in t.lower().split():
            if w:
                cf[w] += 1
    cdf, cum = [], 0
    for tok in sorted(cf):
        wq = int(math.floor(math.sqrt(cf[tok] * math.sqrt(cf[tok])) * 1e6))
        cum += wq
        cdf.append((tok, wq, cum))
    total = cum
    out = []
    for d, _t in texts:
        for j in range(k):
            h = hashlib.md5(f"{d}:{j}".encode()).hexdigest()
            target = int(h[:8], 16) % total
            for tok, wq, c in cdf:
                if c - wq <= target < c:
                    out.append((d, j, tok))
                    break
    return sorted(out)


def test_negative_samples_matches_brute_force(spark):
    texts = [
        (0, "the cat sat on the mat"),
        (1, "the dog ran fast"),
        (2, "cat dog cat dog bird"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.draw_idx, r.neg_token)
        for r in sampling.negative_samples(docs).collect()
    )
    assert got == _brute_negsamp(texts)
    # exactly k draws per doc, all mapping to real vocabulary
    assert len(got) == 3 * 4
    vocab = {w for _, t in texts for w in t.split()}
    assert all(tok in vocab for _, _, tok in got)


def test_negative_samples_is_deterministic_and_frequency_biased(spark):
    # one hot token vs many singletons: the hot token should win a
    # clearly disproportionate share of draws under c^0.75 weighting
    hot = " ".join(["zzz"] * 200)
    cold = " ".join(f"w{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(i, hot if i % 2 == 0 else cold) for i in range(40)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, sampling.negative_samples(docs).collect()))
    b = sorted(map(tuple, sampling.negative_samples(docs).collect()))
    assert a == b  # rerun-stable
    share = sum(1 for _, _, t in a if t == "zzz") / len(a)
    # weight(zzz) = 200^0.75 ~ 53 vs 50 singletons at 1 each
    assert share > 0.3
