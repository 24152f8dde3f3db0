"""Round-12 batch-5 tests: MAP@k, cheapest supplier per part."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import relational, retrieval
from banking_data_etl_pipeline_spark.sources import tables

from conftest import SF_DIR


@pytest.mark.slowtier
def test_map_at_k_matches_pure_python_recompute(spark):
    """AP recomputed from the collected run and corpus-wide grades by
    the textbook formula equals the operator output."""
    docs = tables.load(spark, SF_DIR, "documents")
    out = {r["query_id"]: r for r in retrieval.map_at_k(docs).collect()}
    hits = retrieval.bm25_topk(docs).collect()
    from banking_data_etl_pipeline_spark.functions import texttools
    from banking_data_etl_pipeline_spark.operators.retrieval import (
        derived_query_terms,
    )

    tk = docs.select(
        F.col("doc_id"), F.explode(texttools.tokens(F.col("text"))).alias("token")
    )
    qt = derived_query_terms(tk)
    grades = (
        tk.distinct()
        .join(qt, "token")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("g"))
        .collect()
    )
    rel = {(r["query_id"], r["doc_id"]) for r in grades if r["g"] >= 2}
    n_rel = {}
    for q, _d in rel:
        n_rel[q] = n_rel.get(q, 0) + 1
    runs: dict = {}
    for h in hits:
        runs.setdefault(h["query_id"], []).append((h["rank"], h["doc_id"]))
    for q, row in out.items():
        assert row["n_rel"] == n_rel.get(q, 0)
        run = sorted(runs.get(q, []))
        hits_so_far, ap = 0, 0.0
        for rank, d in run:
            if (q, d) in rel:
                hits_so_far += 1
                ap += round(hits_so_far / rank, 12)
        denom = min(n_rel.get(q, 0), 10)
        want = round(ap / denom, 6) if denom else 0.0
        assert row["ap"] == pytest.approx(want, abs=2e-6)


def test_cheapest_supplier_picks_min_ratio_with_tie_break(spark):
    """Part 1: supplier 7 sells at 2.0/unit, supplier 3 at 1.5/unit →
    3 wins; part 2: equal ratios → lower suppkey wins."""
    rows = [
        # orderkey, partkey, suppkey, qty, extendedprice
        (1, 1, 7, 2.0, 4.0),
        (2, 1, 3, 4.0, 6.0),
        (3, 2, 9, 1.0, 5.0),
        (4, 2, 4, 2.0, 10.0),
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_quantity double, l_extendedprice double",
    )
    got = {
        r["l_partkey"]: r
        for r in relational.cheapest_supplier(li).collect()
    }
    assert got[1]["l_suppkey"] == 3
    assert got[1]["unit_price"] == pytest.approx(1.5)
    assert got[2]["l_suppkey"] == 4  # tie at 5.0/unit -> lower suppkey
    assert len(got) == 2
