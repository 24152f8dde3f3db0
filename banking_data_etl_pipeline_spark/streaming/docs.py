"""Streaming corpus curation — the ingestion-time shape of the text
quality gate: documents arrive as files (a crawler drop directory),
each micro-batch is scored map-only (quality, language, token count)
and gated, and the verdicts append downstream. Because the transform
is stateless (pure per-row expressions — no watermark, no state
store), the streaming result over a bounded drop equals the batch
scan exactly, which is what lets the driver check it against the same
batch-SQL oracle (the stronger equivalence used by
``stream_window_agg``).

At scale this is the front of the curation pipeline: file-source
backpressure (``maxFilesPerTrigger``) bounds batch size; stateful
stages (dedup-within-watermark, streaming MinHash screens against the
persisted corpus signatures — see ``operators.dedup``) compose after
this gate; everything heavier (clustering, ANN) runs on the curated
batch tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import texttools
from .events import drain

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def docs_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """File-source stream over a documents drop directory."""
    return (
        spark.readStream.schema(DOCS_SCHEMA).format("parquet").load(docs_dir)
    )


def quality_gate(docs: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """Map-only per-doc scoring + gate — identical expressions batch or
    stream (quality on the 6-dp-rounded score so the cut is
    engine-stable): (doc_id, lang_id, n_tokens, quality_score,
    kept)."""
    text = F.col("text")
    q = F.round(texttools.quality_score(text), 6)
    return docs.select(
        F.col("doc_id"),
        texttools.lang_id(text).alias("lang_id"),
        texttools.token_count(text).cast("int").alias("n_tokens"),
        q.alias("quality_score"),
        (q >= F.lit(min_quality)).alias("kept"),
    )


def minhash_screen_stream(
    spark: SparkSession,
    docs_dir: str,
    corpus: DataFrame,
    batch_mod: int = 5,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """STREAMING ingestion-time near-dup screen: new documents arrive
    as files, their MinHash band keys are computed map-only inside the
    stream (pure expressions — stream-legal), and a stream-static
    equi-join probes them against the persisted CORPUS signatures
    (the build side a production pipeline precomputes to parquet; here
    the static DataFrame stands in). Emits (batch_id, corpus_id,
    est_jaccard) collision pairs.

    The per-pair ``dropDuplicates`` is the one stateful step; bounded
    here by the availableNow run (production would watermark on an
    arrival timestamp to expire pair state). Identical semantics to
    the batch ``dedup.minhash_lsh_incremental`` over the same split,
    which is what the shared oracle checks."""
    from ..operators.dedup import _minhash_banded, _sig_agreement

    batch = docs_stream(spark, docs_dir).filter(
        F.col("doc_id") % batch_mod == 0
    )
    kb = _minhash_banded(
        batch, "text", "doc_id", num_hashes, bands, persist=False
    ).alias("a")
    kc = _minhash_banded(
        corpus, "text", "doc_id", num_hashes, bands, persist=True
    ).alias("b")
    pairs = (
        kb.join(
            F.broadcast(kc),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col("a.doc_id").alias("batch_id"),
            F.col("b.doc_id").alias("corpus_id"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["batch_id", "corpus_id"])
        .select(
            "batch_id",
            "corpus_id",
            F.round(_sig_agreement(num_hashes), 6).alias("est_jaccard"),
        )
    )
    return drain(pairs, "append")


def bloom_screen_stream(
    spark: SparkSession,
    docs_dir: str,
    corpus: DataFrame,
    batch_mod: int = 5,
    m_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """STREAMING Bloom front gate: the corpus bit set is collected once
    as the shippable filter artifact (<= m_bits ints, ~32 KB — the
    same model-parameter-scale driver pull as k-means centroids) and
    inlined as a literal, so the screen itself is PURE map-only — no
    join, no state store, no watermark: the cheapest possible
    ingestion-time test, in front of the MinHash screen
    (``minhash_screen_stream``) which is in front of exact dedup.
    Stateless => the bounded streaming run equals the batch expression
    row-for-row, which is what the shared oracle checks.

    Emits (doc_id, bloom_hit); bloom_hit=false is a GUARANTEED
    never-seen (no false negatives), so downstream dedup only runs on
    the hit subset."""
    from ..operators.sketches import bloom_bits_artifact, bloom_positions

    bits = bloom_bits_artifact(corpus, m_bits=m_bits, k=k)
    bit_set = F.lit(bits)  # one array<long> literal, ~m_bits elements
    probe = bloom_positions(F.col("text"), m_bits, k)
    gated = docs_stream(spark, docs_dir).filter(
        F.col("doc_id") % batch_mod == 0
    ).select(
        "doc_id",
        F.forall(
            probe, lambda p: F.array_contains(bit_set, p)
        ).alias("bloom_hit"),
    )
    return drain(gated, "append")


def cms_ngrams_stream(
    spark: SparkSession,
    docs_dir: str,
    corpus: DataFrame,
    n: int = 3,
    d: int = 4,
    w: int = 1024,
    k: int = 20,
) -> DataFrame:
    """STREAMING Count-Min maintenance: the heavy-hitter n-gram
    counter table (``sketches.cms_ngram_hitters``) kept ON the ingest
    feed. The d×w per-(row, bucket) counts run as an UPDATE-mode
    streaming aggregation — state is the CONSTANT-size counter table
    itself, the defining property that makes CM the sketch you
    maintain on an unbounded feed (the exact counts you'd need for a
    true top-k are unbounded state). Counts are monotone, so the
    drained sink's per-key MAX is the terminal counter table; the
    candidate probe + ranking then run exactly as in batch.

    Oracle: ``cms_ngrams_sql()`` VERBATIM — the streamed counters must
    be bit-equal to the batch build, so this is the strongest
    batch-equivalence form (the ``stream_window_agg`` convention)."""
    from ..operators import sketches

    s_grams, s_counters, _b = sketches._cms_ngram_parts(
        docs_stream(spark, docs_dir), n, d, w, "text"
    )
    counters = (
        drain(s_counters, "update", 16)
        .groupBy("j", "bucket")
        .agg(F.max("cnt").alias("cnt"))
    )
    grams, _c, bucket = sketches._cms_ngram_parts(corpus, n, d, w, "text")
    return sketches.cms_rank_candidates(
        grams.distinct(), counters, bucket, d, k
    )
