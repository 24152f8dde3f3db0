"""JSONL source: corrupt-line quarantine; parquet schema evolution."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import types as T

from banking_data_etl_pipeline_spark.sources import jsonl

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def test_jsonl_quarantines_malformed_lines(spark):
    d = tempfile.mkdtemp(prefix="test_jsonl_bad_")
    p = os.path.join(d, "in.jsonl")
    with open(p, "w") as f:
        f.write('{"doc_id": 1, "text": "ok", "lang": "en"}\n')
        f.write("this is not json\n")
        f.write('{"doc_id": 2, "text": "also ok"}\n')   # missing fields -> nulls
        f.write('{"doc_id": "notanumber", "text": "bad type"}\n')
    good, bad = jsonl.split_jsonl(spark, p, DOC_SCHEMA)
    rows = {r.doc_id: r for r in good.collect()}
    assert set(rows) == {1, 2}
    assert rows[2].lang is None
    quarantined = [r[jsonl.CORRUPT_COL] for r in bad.collect()]
    assert "this is not json" in quarantined
    assert any("notanumber" in q for q in quarantined)


def test_schema_evolution_merges_generations(spark):
    import tempfile

    from pyspark.sql import functions as F

    from banking_data_etl_pipeline_spark.sources import evolution

    d = tempfile.mkdtemp(prefix="test_evolve_")
    v1, v2 = d + "/gen1", d + "/gen2"
    spark.range(5).select(F.col("id"), F.lit("old").alias("tag")).write.parquet(v1)
    spark.range(5, 10).select(
        F.col("id"), F.lit("new").alias("tag"), (F.col("id") * 2).alias("score")
    ).write.parquet(v2)

    merged = evolution.read_evolved(spark, v1, v2)
    assert set(merged.columns) == {"id", "tag", "score"}
    rows = {r.id: (r.tag, r.score) for r in merged.collect()}
    assert rows[0] == ("old", None)     # new column null on old files
    assert rows[7] == ("new", 14)
    assert len(rows) == 10
