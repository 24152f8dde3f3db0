"""Round-11e operators: streaming histogram-p95 monitor and the
Flesch readability screen."""

from __future__ import annotations

import math
import os
from collections import Counter

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import corpus
from banking_data_etl_pipeline_spark.sources import tables
from banking_data_etl_pipeline_spark.streaming import events as EV

from conftest import SF_DIR


def _brute_p95(values, width=25.0, n_buckets=20):
    cells = Counter(
        min(max(int(v // width), 0), n_buckets - 1) for v in values
    )
    n = len(values)
    target = (19 * n + 19) // 20
    cum = 0
    for b in sorted(cells):
        cum += cells[b]
        if cum >= target:
            return b, n, cum
    raise AssertionError("unreachable")


def test_stream_p95_split_delivery_equals_brute_force(spark, tmp_path):
    # the same events split across TWO files (micro-batches under
    # availableNow) must produce the identical histogram p95 —
    # update-mode re-emissions reduce to the terminal MAX per cell
    ev = tables.load(spark, SF_DIR, "events")
    d = str(tmp_path / "feed")
    os.makedirs(d)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        d, mode="append"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        d, mode="append"
    )
    got = {
        r.event_type: r
        for r in EV.histogram_p95_stream(
            spark, d
        ).collect()
    }
    vals = {}
    for row in ev.select("event_type", "value").collect():
        vals.setdefault(row.event_type, []).append(row.value)
    for etype, vs in vals.items():
        b, n, cum = _brute_p95(vs)
        r = got[etype]
        assert (r.p95_bucket, r.n, r.cum_at_bucket) == (b, n, cum)
        assert r.bucket_lo == b * 25.0
        assert r.bucket_hi == (b + 1) * 25.0
        # the p95 bucket really does cover the 95th percentile value
        exact = sorted(vs)[max(0, (19 * n + 19) // 20 - 1)]
        assert r.bucket_lo <= min(exact, 19 * 25.0)


def test_readability_matches_brute_force(spark):
    texts = [
        ("s1", "The cat sat. On a mat!"),
        ("s1", "no punctuation here just a run on line"),
        ("s2", "Why? Because. Rhythm!"),
    ]
    docs = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(texts)],
        "doc_id long, source string, text string",
    )
    rows = {r.source: r for r in corpus.readability(docs).collect()}

    import re

    def comp(t):
        words = len([w for w in t.lower().split() if w])
        sents = max(len(re.findall(r"[.!?]+", t)), 1)
        sylls = len(re.findall(r"[aeiouy]+", t.lower()))
        return words, sents, sylls

    for src in ("s1", "s2"):
        ws = ss = sy = 0
        for s, t in texts:
            if s == src:
                w_, s_, sy_ = comp(t)
                ws, ss, sy = ws + w_, ss + s_, sy + sy_
        r = rows[src]
        assert (r.words, r.sents, r.sylls) == (ws, ss, sy)
        want = 206.835 - 1.015 * (ws / ss) - 84.6 * (sy / ws)
        assert abs(r.flesch - round(want, 6)) < 1.5e-6


def test_readability_simple_prose_scores_higher_than_runons(spark):
    docs = spark.createDataFrame(
        [
            (0, "simple", "The cat sat. The dog ran. It was fun."),
            (
                1,
                "runon",
                "the inexorable accumulation of subordinate clauses "
                "continuing indefinitely without terminal punctuation "
                "exhausts every reader attempting comprehension",
            ),
        ],
        "doc_id long, source string, text string",
    )
    rows = {r.source: r.flesch for r in corpus.readability(docs).collect()}
    assert rows["simple"] > rows["runon"]
