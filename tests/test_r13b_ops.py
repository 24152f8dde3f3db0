"""Round-13 operators, batch B: the md5-relabeling randomization
test and per-dimension embedding PSI (the label propagation tests
live in test_graph.py).

All extension-brief coverage (experiments / vector-drift families);
the reference pipeline has no counterpart surface.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import (
    expectations,
    experiments,
)
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR


def _py_relabel(r: int, event_id: int, n_a: int, n: int) -> bool:
    h = hashlib.md5(f"perm:{r}:{event_id}".encode()).hexdigest()
    return int(h[:8], 16) * n < n_a * (1 << 32)


def test_perm_test_hand_worked(spark):
    """Tiny crafted events: verify the exact md5 relabel rule, the
    observed diff, and the add-one p-value against a pure-python
    replication."""
    rows = [
        (1, "purchase", 10.0),
        (2, "purchase", 12.0),
        (3, "click", 1.0),
        (4, "click", 2.0),
        (5, "click", 3.0),
        (6, "other", 99.0),  # filtered out
        (7, "purchase", None),  # NULL value filtered out
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    out = experiments.perm_test(ev, b=32).collect()[0]
    assert (out.n_a, out.n_b) == (2, 3)
    assert out.obs_diff == 9.0  # 11.0 - 2.0
    assert out.b_replicas == 32
    # pure-python replication of every replicate
    vals = {1: 10.0, 2: 12.0, 3: 1.0, 4: 2.0, 5: 3.0}
    n_valid = n_ge = 0
    for r in range(32):
        a = [v for e, v in vals.items() if _py_relabel(r, e, 2, 5)]
        b = [v for e, v in vals.items() if not _py_relabel(r, e, 2, 5)]
        if a and b:
            n_valid += 1
            d = sum(a) / len(a) - sum(b) / len(b)
            if abs(d) >= 9.0:
                n_ge += 1
    assert (out.n_valid, out.n_ge) == (n_valid, n_ge)
    assert out.p_value == round((n_ge + 1) / (n_valid + 1), 6)


def test_perm_test_deterministic(spark):
    ev = tables.load(spark, SF_DIR, "events")
    a = experiments.perm_test(ev).collect()[0]
    b = experiments.perm_test(ev).collect()[0]
    assert tuple(a) == tuple(b)
    assert 0.0 < a.p_value <= 1.0
    assert a.n_valid <= 32


def test_emb_psi_nonnegative_and_constant_dim(spark):
    emb = tables.load(spark, SF_DIR, "embeddings")
    rows = expectations.emb_dim_psi(emb).collect()
    assert len(rows) == 64
    # each PSI term (p-q)·ln(p/q) is >= 0, so the per-dim sum is too
    for r in rows:
        assert r.psi is not None and r.psi >= 0.0
        assert r.n_ref > 0 and r.n_cur > 0
    # a constant dimension scores exactly 0 on both sides
    const = emb.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(1.5 AS FLOAT))").alias("embedding")
    )
    crows = expectations.emb_dim_psi(const).collect()
    assert all(r.psi == 0.0 for r in crows)


def test_perm_test_empty_subset_yields_zero_rows(spark):
    """r13 ADVICE: an empty two-type subset must return ZERO rows in
    BOTH engines — the twin's grouped terminal SELECT yields none,
    so the Spark side's ungrouped agg must drop its all-NULL row."""
    ev = spark.createDataFrame(
        [(1, "view", 1.0), (2, "view", 2.0)],
        "event_id bigint, event_type string, value double",
    )
    assert experiments.perm_test(ev, b=4).count() == 0
