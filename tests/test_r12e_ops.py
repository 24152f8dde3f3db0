"""Round-12 batch-3 operator tests: language-ID confusion matrix,
vocabulary coverage curve."""

from __future__ import annotations

import pytest

from banking_data_etl_pipeline_spark.operators import corpus
from banking_data_etl_pipeline_spark.sources import tables

from conftest import SF_DIR


def test_langid_confusion_cells_partition_the_corpus(spark):
    """Cell counts sum to the doc count, per-label shares sum to 1,
    and every label from the corpus appears."""
    docs = tables.load(spark, SF_DIR, "documents")
    out = corpus.langid_confusion(docs).collect()
    n_docs = docs.count()
    assert sum(r["n"] for r in out) == n_docs
    by_label: dict = {}
    for r in out:
        by_label.setdefault(r["label"], []).append(r)
    labels = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert set(by_label) == labels
    for rows in by_label.values():
        assert sum(r["share"] for r in rows) == pytest.approx(1.0)
        assert all(r["label_n"] == rows[0]["label_n"] for r in rows)


def test_langid_confusion_known_prediction(spark):
    """A stopword-dense English text lands in the (label, 'en') cell."""
    docs = spark.createDataFrame(
        [(1, "the of and to in that it was for on", "en"),
         (2, "zz qq xx", "en")],
        "doc_id long, text string, lang string",
    )
    cells = {
        (r["label"], r["pred"]): r["n"]
        for r in corpus.langid_confusion(docs).collect()
    }
    assert cells[("en", "en")] == 1
    assert cells[("en", "und")] == 1


def test_vocab_coverage_hand_computed(spark):
    """Tokens: a×5, b×3, c×1, d×1 (total 10) → top-1 covers 5/10,
    top-2 covers 8/10; k beyond the vocab reports full coverage."""
    docs = spark.createDataFrame(
        [(1, "a a a a a b b"), (2, "b c d")], "doc_id long, text string"
    )
    rows = {
        r["k"]: r for r in corpus.vocab_coverage(docs, ks=(1, 2, 99)).collect()
    }
    assert rows[1]["covered"] == 5 and rows[1]["total"] == 10
    assert rows[1]["share"] == pytest.approx(0.5)
    assert rows[2]["covered"] == 8
    assert rows[99]["covered"] == 10 and rows[99]["share"] == 1.0


def test_vocab_coverage_tie_break_is_total_order(spark):
    """Equal-count tokens rank by token asc: counts {b:2, a:2, c:1} →
    top-1 is 'a' (not 'b'), covering 2/5."""
    docs = spark.createDataFrame(
        [(1, "b a b a c")], "doc_id long, text string"
    )
    rows = {r["k"]: r for r in corpus.vocab_coverage(docs, ks=(1,)).collect()}
    assert rows[1]["covered"] == 2
