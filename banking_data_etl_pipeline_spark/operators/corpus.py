"""Composite training-data corpus pipeline: quality-score -> language
filter -> exact dedup, in one declarative plan.

This is the canonical LLM-pretraining shape (filter cheap, dedup on
hashes, keep one representative per duplicate class). Everything stays
in native expressions; the only shuffle is the final dedup groupBy on
a fixed-width md5 key."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import texttools
from ..session import fan_out


def quality_filtered_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    lang: str = "en",
) -> DataFrame:
    """Documents passing quality >= min_quality (on the 6-dp-rounded
    score, so engine float edges can't flip the cut) and language-ID ==
    ``lang``, exact-deduped keeping the lowest id per distinct text."""
    text = F.col(text_col)
    scored = docs.select(
        F.col(id_col),
        text.alias("_text"),
        F.round(texttools.quality_score(text), 6).alias("_q"),
        texttools.lang_id(text).alias("_lang"),
    )
    kept = scored.filter((F.col("_q") >= min_quality) & (F.col("_lang") == lang))
    return (
        kept.groupBy(F.md5(F.col("_text")).alias("text_hash"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("_q").alias("quality_score"),
        )
        .select(id_col, "n_copies", "quality_score", "text_hash")
    )


def vocab_topn(
    docs: DataFrame, text_col: str = "text", n: int = 100
) -> DataFrame:
    """Corpus vocabulary: the ``n`` most frequent whitespace tokens
    with their total counts — the first pass of tokenizer/vocab
    training over a corpus.

    Scale shape: ``explode`` is map-only; the token groupBy does
    map-side partial aggregation so hot tokens ("the") arrive at the
    reducer pre-combined, one row per (partition, token) — no skew
    blowup; the global top-n is a TakeOrdered (per-partition heaps +
    driver merge of n rows), never a full sort. Ties break by token so
    the cut is deterministic."""
    toks = docs.select(F.explode(texttools.tokens(F.col(text_col))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(n)
    )


def tfidf_top_terms(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", top: int = 3
) -> DataFrame:
    """Per-document top-``top`` terms by TF-IDF (tf * ln(N/df)) — the
    classic keyword/feature extraction over a corpus.

    Scale shape: term frequencies are one (doc, term) groupBy with
    map-side combine; document frequencies aggregate THAT result (never
    re-tokenize); the corpus size N enters as an uncorrelated SCALAR
    SUBQUERY (computed once map-side-partial, injected as a literal —
    no join, no driver-side collect); the final per-doc rank windows on
    doc_id — maximally parallel. Ranking orders by the 6-dp-ROUNDED
    score (then term) so an engine float edge can't flip which terms
    make the cut.
    """
    from pyspark.sql import Window

    terms = (
        docs.select(
            F.col(id_col), F.explode(texttools.tokens(F.col(text_col))).alias("term")
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs")).scalar()
    scored = terms.join(dfreq, "term").select(
        id_col,
        "term",
        "tf",
        "df_docs",
        F.round(
            F.col("tf") * F.log(n_docs / F.col("df_docs")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("term_rank") <= top)
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 32,
    stride: int = 32,
) -> DataFrame:
    """Split each document into fixed-size token windows — the standard
    pre-training chunking step (stride == size -> disjoint chunks;
    stride < size -> overlapping).

    Native plan: tokenize once, ``posexplode`` over a computed chunk
    index ``sequence`` — map-only row generation, no shuffle, no UDF;
    at 100 TB this parallelizes at the input-split level and the
    Generate output streams straight into the next operator. Tail
    chunks shorter than ``size`` are kept (standard: the packer, not
    the chunker, decides padding)."""
    docs = fan_out(docs)
    toks = texttools.tokens(F.col(text_col))
    staged = docs.select(F.col(id_col), toks.alias("_toks")).filter(
        F.size("_toks") > 0
    )
    n_chunks = F.ceil((F.size("_toks") - F.lit(size)) / F.lit(stride)) + 1
    n_chunks = F.greatest(n_chunks, F.lit(1)).cast("int")
    return (
        staged.select(
            id_col,
            "_toks",
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "_"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.array_join(
                F.slice(F.col("_toks"), F.col("chunk_idx") * stride + 1, size), " "
            ).alias("chunk_text"),
            F.least(
                F.size("_toks") - F.col("chunk_idx") * stride, F.lit(size)
            ).alias("n_tokens"),
        )
    )


def unigram_xent(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_below: float = 3.41,
) -> DataFrame:
    """Per-document unigram-LM cross-entropy — the CCNet/Gopher-style
    "perplexity" quality signal: score each document by the mean
    negative log-probability of its tokens under the corpus's own
    unigram model, and flag the tail above ``keep_below`` (documents
    full of rare tokens — boilerplate, hashes, noise) for removal.

    Scale shape: the model IS a DataFrame (one row per vocab token) —
    never collected; it is built from one token groupBy with map-side
    combine, the corpus token total enters as an uncorrelated scalar
    subquery, and scoring is one (tokens ⋈ vocab) equi-join — at 100 TB
    the vocab side is Zipf-small (≪ corpus) and typically broadcastable;
    here we leave the join strategy to AQE since vocab size is
    data-dependent. Nothing is quadratic, nothing re-tokenizes.

    Cross-engine float parity: each token's -ln p is rounded to 12 dp
    and summed as DECIMAL(26,12) (exact, order-independent), so the
    per-doc mean is bit-stable under any partitioning; the mean is
    rounded to 6 dp and the keep decision cuts on the ROUNDED value so
    an engine float edge can't flip it."""
    toks = docs.select(
        F.col(id_col), F.explode(texttools.tokens(F.col(text_col))).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tok_n"))
    # the corpus token total equals sum(size(tokens)) — a MAP-ONLY
    # aggregate over the raw scan, so the scalar subquery never
    # re-derives the vocab groupBy (one exchange instead of a second
    # full tokenize+shuffle at 100 TB)
    corpus_n = docs.agg(
        F.sum(F.size(texttools.tokens(F.col(text_col)))).cast("double").alias("n")
    ).scalar()
    logp = vocab.select(
        "token",
        F.round(-F.log(F.col("tok_n") / corpus_n), 12)
        .cast("decimal(26,12)")
        .alias("neg_logp"),
    )
    per_doc = (
        toks.join(logp, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("neg_logp").alias("_s"),
        )
    )
    xent = F.round(F.col("_s").cast("double") / F.col("n_tok"), 6)
    return per_doc.select(
        F.col(id_col),
        F.col("n_tok"),
        xent.alias("xent"),
        (xent <= F.lit(keep_below)).alias("kept"),
    )


def bigram_xent(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BIGRAM-LM cross-entropy — one order above
    ``unigram_xent``, the signal that separates fluent text from
    bag-of-common-words noise a unigram model scores as fine (shuffled
    tokens keep their unigram xent but blow up the bigram one; this is
    the heart of CCNet/KenLM-style perplexity filtering).

    Model: add-one-smoothed conditional P(w2 | w1) =
    (c(w1 w2) + 1) / (c_prefix(w1) + V), fit on the corpus itself —
    c_prefix counts w1 as a bigram PREFIX (so conditionals normalize
    exactly) and V is the unigram vocabulary size, entering as a
    scalar subquery. Per doc: mean -ln P over its bigrams.

    Scale shape: the model IS a DataFrame (one row per observed
    bigram — Zipf-small vs the corpus), built by one shingle groupBy
    with map-side combine; scoring is one (doc-bigrams ⋈ model)
    equi-join on the bigram string. Every scored bigram is observed
    (the model is fit on the same corpus), so the join is total.
    Cross-engine parity: per-bigram -ln p rounded to 12 dp, summed as
    DECIMAL(26,12), mean rounded to 6 dp.

    Returns (doc_id, n_bigrams, xent2) with xent2 NULL for docs
    shorter than 2 tokens."""
    bg = docs.select(
        F.col(id_col),
        F.explode_outer(
            texttools.word_shingles(texttools.tokens(F.col(text_col)), 2)
        ).alias("bg"),
    )
    model = (
        bg.filter(F.col("bg").isNotNull())
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c2"))
        .withColumn("w1", F.substring_index(F.col("bg"), " ", 1))
    )
    prefix = model.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = (
        docs.select(
            F.explode(texttools.tokens(F.col(text_col))).alias("token")
        )
        .agg(F.count_distinct("token").alias("v"))
        .scalar()
        .cast("double")
    )
    logp = model.join(prefix, "w1").select(
        "bg",
        F.round(
            -F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + v)), 12
        )
        .cast("decimal(26,12)")
        .alias("neg_logp"),
    )
    per_doc = (
        bg.join(logp, "bg", "left")
        .groupBy(id_col)
        .agg(
            F.count("bg").alias("n_bigrams"),
            F.sum("neg_logp").alias("_s"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.when(
            F.col("n_bigrams") > 0,
            F.round(F.col("_s").cast("double") / F.col("n_bigrams"), 6),
        ).alias("xent2"),
    )


def feature_hash_embed(
    docs: DataFrame,
    dim: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic text featurizer by the HASHING TRICK (Weinberger
    et al. 2009): each token hashes to a dimension index and a ±1
    sign, signed counts accumulate per dimension, and the vector is
    L2-normalized — the no-model embedding that feeds clustering /
    ANN / dedup plumbing when no neural encoder is in the loop (and
    the exact featurizer Vowpal-Wabbit-style systems run at scale).

    Map-only until one groupBy(doc, dim) with map-side combine —
    vocabulary size never matters (that IS the hashing trick). Hashes
    derive from md5 (the HLL twin pattern: first 8 hex chars as a
    32-bit int; bit 0 = sign, the rest index), so the DuckDB twin
    reproduces indices and signs exactly; normalization divides by
    sqrt of an exact integer sum of squares, then rounds 6 dp.

    Returns SPARSE per-dimension rows (doc_id, dim, val), val != 0 —
    the scalar-cells contract every array-valued oracle here uses
    (kmeans precedent); docs with no tokens produce no rows."""
    h32 = F.conv(
        F.substring(F.md5(F.col("token")), 1, 8), 16, 10
    ).cast("long")
    signed = (
        docs.select(
            F.col(id_col),
            F.explode(texttools.tokens(F.col(text_col))).alias("token"),
        )
        .select(
            id_col,
            F.pmod(F.shiftright(h32, 1), F.lit(dim)).cast("int").alias("dim"),
            (F.lit(1) - (h32 % 2) * 2).cast("long").alias("sign"),
        )
        .groupBy(id_col, "dim")
        .agg(F.sum("sign").alias("val"))
        .filter(F.col("val") != 0)
    )
    norms = signed.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("val") * F.col("val")).cast("double")).alias("_n")
    )
    return (
        signed.join(norms, id_col)
        .select(
            id_col,
            "dim",
            F.round(F.col("val").cast("double") / F.col("_n"), 6).alias("val"),
        )
        .filter(F.col("val") != 0.0)
    )


def source_divergence(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise KL divergence between the unigram token distributions
    of corpus groups (sources, splits, snapshots) — the
    distribution-shift diagnostic run before mixing sources or after
    re-crawling: a spiking KL(source_a || source_b) means a's token
    mix drifted from b's and mixture weights or filters need a second
    look. Add-one smoothing over the GLOBAL vocab keeps every
    probability positive, so KL is finite and the pair table is total.

    Scale shape: token counts are one groupBy over the corpus scan
    (Zipf-small result); the (vocab x groups) grid and the per-token
    pair join are vocab-scale, never corpus-scale; group count is tiny
    so pairs multiply vocab rows by a constant. The vocab size enters
    as an uncorrelated scalar subquery — no driver pull. Per-token
    terms are 12-dp-rounded and summed as DECIMAL (order-independent),
    output 6-dp — the repo-wide cross-engine float discipline.

    Returns (src_a, src_b, kl) for every ordered pair of distinct
    groups."""
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(texttools.tokens(F.col(text_col))).alias("token"),
    )
    counts = toks.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("grp").agg(F.sum("c").alias("tot"))
    vocab = counts.select("token").distinct()
    v_size = vocab.agg(F.count(F.lit(1)).cast("double").alias("v")).scalar()
    grid = (
        vocab.crossJoin(totals)
        .join(counts, ["grp", "token"], "left")
        .select(
            "grp",
            "token",
            (
                (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                / (F.col("tot").cast("double") + v_size)
            ).alias("p"),
        )
    )
    a = grid.select(
        F.col("grp").alias("src_a"), "token", F.col("p").alias("pa")
    )
    b = grid.select(
        F.col("grp").alias("src_b"), "token", F.col("p").alias("pb")
    )
    terms = (
        a.join(b, "token")
        .filter(F.col("src_a") != F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F.round(F.col("pa") * F.log(F.col("pa") / F.col("pb")), 12)
            .cast("decimal(26,12)")
            .alias("t"),
        )
    )
    return terms.groupBy("src_a", "src_b").agg(
        (F.round(F.sum("t").cast("double"), 6) + F.lit(0.0)).alias("kl")
    )


def curation_pipeline(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    test_rate: int = 16,
    val_rate: int = 32,
) -> DataFrame:
    """The LLM-data flagship composition: quality gate -> exact dedup
    -> deterministic train/val/test split, as ONE auditable per-doc
    verdict table (the errors-as-data stance of the bank pipeline
    applied to corpus curation — every document appears exactly once
    with the stage that removed it or the split that kept it).

    Stages: ``rejected_quality`` (6-dp-rounded quality score below the
    cut), ``duplicate`` (a lower-id doc with identical text already
    passed), else the md5-range split (``test`` < test_rate/256 <=
    ``val`` < val_rate/256 <= ``train`` — the split_manifest rule, so
    membership never drifts across reruns or engines).

    Scale shape: one scan computes quality+lang map-only; dedup is the
    usual md5(text) groupBy (fixed-width keys) joined back on the same
    hash (co-partitioned by AQE); the split is a pure expression. No
    all-pairs stage, no driver pulls."""
    from .sampling import threshold_hex

    text = F.col(text_col)
    scored = docs.select(
        F.col(id_col),
        text.alias("_text"),
        F.round(texttools.quality_score(text), 6).alias("quality_score"),
        texttools.lang_id(text).alias("lang"),
    ).withColumn("q_pass", F.col("quality_score") >= min_quality)
    keepers = (
        scored.filter(F.col("q_pass"))
        .groupBy(F.md5("_text").alias("_h"))
        .agg(F.min(id_col).alias("_keep_id"))
    )
    j = scored.withColumn("_h", F.md5("_text")).join(keepers, "_h", "left")
    t16, t32 = threshold_hex(test_rate), threshold_hex(val_rate)
    pfx = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    stage = (
        F.when(~F.col("q_pass"), F.lit("rejected_quality"))
        .when(F.col(id_col) != F.col("_keep_id"), F.lit("duplicate"))
        .when(pfx < t16, F.lit("test"))
        .when(pfx < t32, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return j.select(
        F.col(id_col),
        "lang",
        "quality_score",
        "q_pass",
        (F.col("q_pass") & (F.col(id_col) == F.col("_keep_id"))).alias("kept"),
        stage.alias("stage"),
    )


def xent_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style perplexity bucketing: split each language's
    documents into head / middle / tail terciles of unigram
    cross-entropy — the partition CCNet publishes and LLM pipelines
    sample from (head = most fluent under the LM, tail = noisiest).
    Composes ``unigram_xent`` with a per-language ``ntile(3)`` on
    (xent, doc_id) — a total order, so the split is deterministic and
    integer-only (no float threshold to disagree across engines).

    Scale note: ntile sorts each language on one reducer; languages
    are few and independent so this parallelizes per lang, but at
    100 TB per-language you'd switch to threshold-cut buckets from
    ``approx_percentile`` boundaries (the CCNet paper itself fits
    thresholds on a sample) — same output contract."""
    from pyspark.sql import Window

    scored = unigram_xent(docs, text_col, id_col).select(id_col, "xent")
    with_lang = scored.join(docs.select(id_col, lang_col), id_col)
    w = Window.partitionBy(lang_col).orderBy(
        F.col("xent").asc(), F.col(id_col).asc()
    )
    nt = F.ntile(3).over(w)
    return with_lang.select(
        F.col(id_col),
        F.col(lang_col),
        F.col("xent"),
        nt.cast("int").alias("bucket_idx"),
        F.when(nt == 1, "head")
        .when(nt == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def dsir_logratio(
    docs: DataFrame,
    target_lang: str = "en",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style data-selection score: per-document mean log-ratio of
    a TARGET-domain unigram LM (here: the ``target_lang`` slice of the
    corpus) against the RAW-corpus unigram LM. Documents whose tokens
    look more like the target than like the average corpus score
    positive — sampling proportional to exp(score) is importance
    resampling for domain-targeted pretraining mixes.

    Both models are add-1 smoothed over the SHARED corpus vocabulary,
    so every token has finite log-probability under both and the ratio
    is defined everywhere. Scale shape mirrors ``unigram_xent``: one
    tokenize, ONE vocab groupBy carrying both counts (the target count
    is a conditional sum in the same aggregate — no second pass), the
    three normalizers (vocab size, target/raw token totals) enter as
    uncorrelated scalar subqueries, and scoring is one equi-join back
    to the token stream. Same 12-dp/DECIMAL/6-dp rounding discipline
    for engine-independent results; the keep cut (score > 0) is on the
    rounded mean."""
    is_target = F.col("lang") == F.lit(target_lang)
    toks = docs.select(
        F.col(id_col),
        is_target.alias("_t"),
        F.explode(texttools.tokens(F.col(text_col))).alias("token"),
    )
    vocab = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("c_tgt"),
    )
    # token totals are MAP-ONLY aggregates over the raw scan (sum of
    # per-doc token counts) — only the vocab-size scalar genuinely
    # needs the distinct-token groupBy
    n_sizes = F.size(texttools.tokens(F.col(text_col)))
    v_size = vocab.agg(F.count(F.lit(1)).cast("double").alias("v")).scalar()
    n_all = docs.agg(F.sum(n_sizes).cast("double").alias("n")).scalar()
    n_tgt = docs.agg(
        F.sum(F.when(is_target, n_sizes).otherwise(0)).cast("double").alias("n")
    ).scalar()
    lr = vocab.select(
        "token",
        F.round(
            F.log((F.col("c_tgt") + 1) / (n_tgt + v_size))
            - F.log((F.col("c_all") + 1) / (n_all + v_size)),
            12,
        )
        .cast("decimal(26,12)")
        .alias("lr"),
    )
    per_doc = (
        toks.join(lr, "token")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tok"), F.sum("lr").alias("_s"))
    )
    score = F.round(F.col("_s").cast("double") / F.col("n_tok"), 6)
    return per_doc.select(
        F.col(id_col),
        F.col("n_tok"),
        # + 0.0: Spark's HALF_UP round yields +0.0 for tiny negatives
        # where DuckDB keeps -0.0; the oracle twin adds the same term
        (score + F.lit(0.0)).alias("logratio"),
        (score > F.lit(0.0)).alias("target_like"),
    )


def quality_ensemble(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 24,
    min_quality: float = 0.42,
    max_top_bigram: float = 0.08,
    max_dup_trigram: float = 0.02,
    max_xent: float = 3.45,
) -> DataFrame:
    """FineWeb/Gopher-style multi-signal quality gate: surface stats,
    within-doc repetition, and unigram-LM cross-entropy combined into
    one keep/drop verdict with a FIRST-FAILING-RULE reason — the same
    errors-as-data, first-match-wins CASE shape the reference ETL uses
    for its error channel, applied to corpus curation.

    Scale shape: every signal except the LM score is MAP-ONLY (column
    expressions riding the scan); the LM score joins the one
    vocab-model pass from ``unigram_xent``. So the whole gate is one
    tokenize-join-project pipeline — no second corpus scan for the
    verdict, and the per-reason drop counts (one tiny groupBy
    downstream) give the curation report for free. All cuts compare
    6-dp ROUNDED signals so engine float edges can't flip a verdict."""
    docs = fan_out(docs)
    rep = texttools.repetition_signals(F.col(text_col))
    # The explode(array(struct(...))) wrapper is load-bearing (same
    # barrier as plans/pipeline.py's from_csv parse): the verdict CASE
    # below references each signal in several branches, and Catalyst's
    # projection collapse would substitute the full repetition-fold
    # HOFs into every reference — measured ~10x slower without the
    # Generate barrier. One row in, one row out; semantics unchanged.
    sig = docs.select(
        F.col(id_col),
        F.explode(
            F.array(
                F.struct(
                    texttools.token_count(F.col(text_col)).alias("n_tokens"),
                    F.round(texttools.quality_score(F.col(text_col)), 6).alias(
                        "quality_score"
                    ),
                    # repetition_signals = [n_words, top_bigram_frac,
                    # dup_trigram_frac, keep]; the ensemble needs the
                    # two fractions
                    rep[1],
                    rep[2],
                )
            )
        ).alias("_s"),
    ).select(id_col, "_s.*")
    x = unigram_xent(docs, text_col, id_col).select(id_col, "xent")
    j = sig.join(x, id_col)
    reason = (
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("quality_score") < min_quality, F.lit("low_quality"))
        .when(
            F.col("top_bigram_frac") > max_top_bigram,
            F.lit("bigram_repetition"),
        )
        .when(
            F.col("dup_trigram_frac") > max_dup_trigram,
            F.lit("trigram_repetition"),
        )
        .when(F.col("xent") > max_xent, F.lit("high_perplexity"))
        .otherwise(F.lit("pass"))
    )
    return j.select(
        id_col,
        "n_tokens",
        "quality_score",
        "top_bigram_frac",
        "dup_trigram_frac",
        "xent",
        reason.alias("reason"),
        (reason == "pass").alias("kept"),
    )


def bigram_pmi(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Corpus collocations: pointwise mutual information of adjacent
    token pairs, ``pmi = ln(p(xy) / (p(x) p(y)))`` with p(xy) over the
    bigram total B and p(x) over the token total N — the classic
    phrase-mining / tokenizer-merge-candidate signal.

    Scale shape: bigrams come from one map-only ``word_shingles``
    explode; bigram and unigram counts are each ONE groupBy with
    map-side combine (never a self-join of the token stream); the two
    totals enter as uncorrelated scalar subqueries (map-only
    aggregates, no collect); and the two count-lookup joins run
    bigram ⋈ vocab, where the vocab side is Zipf-small — AQE broadcasts
    it when it fits, plain shuffle join otherwise. ``min_count`` prunes
    the long tail BEFORE the joins, so join input is the head of the
    bigram distribution, not the corpus.

    Float parity: the PMI operand is built with one fixed
    multiplication order (see the expression) and rounded to 6 dp, the
    repo-wide cross-engine rule."""
    toks = texttools.tokens(F.col(text_col))
    uni = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    big = (
        docs.select(F.explode(texttools.word_shingles(toks, 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    n_tok = docs.agg(F.sum(F.size(toks)).alias("n")).scalar().cast("double")
    n_big = (
        docs.agg(
            F.sum(F.greatest(F.size(toks) - 1, F.lit(0))).alias("b")
        )
        .scalar()
        .cast("double")
    )
    parts = F.split(F.col("bigram"), " ", 2)
    sp = big.select(
        "bigram", "cnt", parts[0].alias("_x"), parts[1].alias("_y")
    )
    cx = uni.select(F.col("tok").alias("_x"), F.col("c1").alias("cx"))
    cy = uni.select(F.col("tok").alias("_y"), F.col("c1").alias("cy"))
    joined = sp.join(cx, "_x").join(cy, "_y")
    # fixed association: ((cnt * N) * N) / (((B * cx)) * cy) — the
    # oracle writes the identical shape so both engines round the same
    # double
    # + 0.0 normalizes a rounded -0.0 (Spark) vs -0.0-preserving
    # DuckDB round — see oracle twin, which adds the same term
    pmi = F.round(
        F.log(
            (F.col("cnt").cast("double") * n_tok * n_tok)
            / (n_big * F.col("cx").cast("double") * F.col("cy").cast("double"))
        ),
        6,
    ) + F.lit(0.0)
    return joined.select(
        "bigram",
        "cnt",
        F.col("cx").alias("c_left"),
        F.col("cy").alias("c_right"),
        pmi.alias("pmi"),
    )


def oov_rate(
    docs: DataFrame,
    vocab_n: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_n`` token vocabulary — the tokenizer-coverage check
    run before committing a vocab size (docs with high OOV either need
    a bigger vocab or don't belong in the corpus).

    Scale shape: the vocab is ``vocab_topn``'s TakeOrdered result
    (n rows, model-parameter scale) BROADCAST to a left join against
    the exploded tokens; the per-doc rollup groups on doc_id. The
    corpus is tokenized once; nothing vocabulary-sized shuffles except
    the one top-n pass inside ``vocab_topn``. Ties at the vocab cut
    break by token, so membership is deterministic.

    Returns (doc_id, n_tokens, n_oov, oov_frac) with oov_frac
    6-dp-rounded (0.0 for empty docs)."""
    vocab = vocab_topn(docs, text_col, vocab_n).select(
        F.col("token"), F.lit(1).alias("_v")
    )
    toks = docs.select(
        F.col(id_col),
        F.explode_outer(texttools.tokens(F.col(text_col))).alias("token"),
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count("token").alias("n_tokens"),
            F.sum(
                F.when(
                    F.col("token").isNotNull() & F.col("_v").isNull(), 1
                ).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return per_doc.select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_oov").cast("bigint").alias("n_oov"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("oov_frac"),
    )


def pretrain_export(
    docs: DataFrame,
    min_quality: float = 0.5,
    lang: str = "en",
    chunk_size: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The full pretraining-data export, composed end-to-end in ONE
    declarative plan: quality + language gate -> exact dedup (keep
    lowest id) -> cross-doc exact-substring span removal over the
    SURVIVORS -> fixed-size token chunking of the cleaned text. This
    is the order a production corpus build runs them (gate cheap
    first; dedup before span stats so boilerplate frequency isn't
    inflated by whole-doc copies; chunk last so removed spans never
    reach the packer).

    Every stage is the library operator, not a re-implementation —
    the composition exists to prove the stages CHAIN (the oracle twin
    chains the same four CTE blocks). Catalyst pipelines the gate +
    dedup into the span stage's first scan; the expensive stages keep
    their documented scale shapes (see SCALE.md).

    Returns one chunk row per (kept doc, window): (doc_id, chunk_idx,
    chunk_text, n_tokens)."""
    from . import dedup as D

    text = F.col(text_col)
    scored = docs.select(
        F.col(id_col),
        text.alias("_text"),
        F.round(texttools.quality_score(text), 6).alias("_q"),
        texttools.lang_id(text).alias("_lang"),
    )
    gated = scored.filter(
        (F.col("_q") >= min_quality) & (F.col("_lang") == lang)
    )
    kept = (
        gated.groupBy(F.md5(F.col("_text")).alias("_h"))
        .agg(
            F.min(id_col).alias(id_col),
            F.min("_text").alias(text_col),
        )
        .select(id_col, text_col)
    )
    cleaned = D.shared_span_removal(kept, text_col=text_col, id_col=id_col)
    return chunk_documents(
        cleaned.select(id_col, F.col("cleaned_text").alias(text_col)),
        text_col=text_col,
        id_col=id_col,
        size=chunk_size,
        stride=chunk_size,
    )


def source_span_overlap(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source copying map: for every source pair, how many
    distinct ``n``-gram spans appear in BOTH — the provenance-level
    view of ``dup_span_stats`` that answers "which feeds share
    boilerplate / plagiarize each other" before any doc-level action.

    Scale shape: spans collapse to DISTINCT (source, 16-hex-md5)
    pairs first — the self-join is then keyed on the hash and its
    fan-out is bounded by sources-per-span (<= |sources|, catalog
    -sized), never docs-per-span; the final groupBy lands on at most
    |sources|^2 keys. Shuffle rows are ~24 B (hash + source).

    Returns (src_a, src_b, n_shared_spans) for pairs with >= 1
    shared span, src_a < src_b."""
    sh = (
        docs.select(
            F.col(source_col).alias("_src"),
            F.explode(
                F.array_distinct(
                    texttools.word_shingles(
                        texttools.tokens(F.col(text_col)), n
                    )
                )
            ).alias("_sh"),
        )
        .select("_src", F.substring(F.md5("_sh"), 1, 16).alias("_hh"))
        .distinct()
        .persist()
    )
    a = sh.select(F.col("_src").alias("src_a"), "_hh")
    b = sh.select(F.col("_src").alias("src_b"), "_hh")
    return (
        a.join(b, "_hh")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count_distinct("_hh").cast("bigint").alias("n_shared_spans"))
    )


def source_semantic_map(
    docs: DataFrame,
    emb: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Semantic source map: per-source embedding centroid (the
    decimal-exact per-dimension mean, same arithmetic as the k-means
    update so any engine reproduces it bit-for-bit), then pairwise
    cosine between source centroids — "which feeds cover the same
    semantic space", the signal behind source-level mixture and
    redundancy decisions.

    Scale shape: ONE equi-join docs->embeddings on the id, one
    groupBy(source) with dim decimal sums (map-side combine), then
    all remaining work happens on |sources| rows (catalog-sized) —
    the pairwise stage is a tiny self-join, never row-scale.

    Returns (src_a, src_b, cosine) for src_a < src_b, 6-dp-rounded."""
    j = docs.select(F.col(id_col), F.col(source_col).alias("_src")).join(
        emb.select(F.col(vec_id_col).alias(id_col), F.col(vec_col).alias("_v")),
        id_col,
    )
    cent = (
        j.groupBy("_src")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(
                    F.element_at(F.col("_v"), i + 1).cast("decimal(28,12)")
                ).alias(f"_s{i}")
                for i in range(dim)
            ],
        )
        .select(
            "_src",
            F.array(
                *[
                    (F.col(f"_s{i}").cast("double") / F.col("_n")).alias(f"_c{i}")
                    for i in range(dim)
                ]
            ).alias("_cent"),
        )
    )
    a = cent.select(F.col("_src").alias("src_a"), F.col("_cent").alias("_ca"))
    b = cent.select(F.col("_src").alias("src_b"), F.col("_cent").alias("_cb"))
    from ..functions import vectors

    # broadcast the (catalog-sized) right side explicitly: the
    # aggregated branch has no size stats pre-AQE, and an un-hinted
    # crossJoin would plan a CartesianProduct
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F.round(vectors.cosine(F.col("_ca"), F.col("_cb")), 6).alias(
                "cosine"
            ),
        )
    )


def quality_autocut(
    docs: DataFrame,
    pct: float = 0.25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data-dependent quality gate: instead of a hand-picked constant,
    the threshold is the corpus's own ``pct`` quantile of the quality
    score — "drop the worst quartile" stays meaningful as the corpus
    distribution drifts, which is how production gates are actually
    tuned. The exact interpolated percentile enters as an uncorrelated
    SCALAR SUBQUERY over the persisted scored table (one scan scores,
    the quantile and the gate both read the cache — no driver pull,
    no second corpus scan).

    Returns (doc_id, q, threshold, kept) with q and threshold
    6-dp-rounded and kept decided on the rounded values (engine float
    edges can't flip the cut)."""
    scored = docs.select(
        F.col(id_col),
        F.round(texttools.quality_score(F.col(text_col)), 6).alias("q"),
    ).persist()
    thr = F.round(
        scored.agg(
            F.percentile(F.col("q"), F.lit(pct)).alias("t")
        ).scalar(),
        6,
    )
    return scored.select(
        id_col,
        "q",
        thr.alias("threshold"),
        (F.col("q") >= thr).alias("kept"),
    )


def dataset_card(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The one-row dataset card — the summary block a corpus release
    ships with (HuggingFace dataset-card / Datasheets style): volume,
    token mass, source/language breadth, exact-duplicate rate, mean
    quality, median length. ONE scan computes every per-doc signal
    into a persisted projection; a single global aggregate (with
    map-side partials; the exact distincts expand the usual way —
    see profiling.py notes) reduces it to one row.

    Returns (n_docs, n_tokens, n_chars, n_sources, n_langs,
    pct_english, exact_dup_rate, mean_quality, p50_tokens), rates and
    means 6-dp-rounded."""
    text = F.col(text_col)
    scored = docs.select(
        F.col(id_col),
        F.col("source"),
        F.size(texttools.tokens(text)).cast("bigint").alias("_nt"),
        F.length(text).cast("bigint").alias("_nc"),
        texttools.lang_id(text).alias("_lang"),
        F.round(texttools.quality_score(text), 6).alias("_q"),
        F.md5(text).alias("_h"),
    ).persist()
    n = F.count(F.lit(1))

    def rate(x):
        # NULL at zero docs, as the DuckDB twin's x / 0.0 gives (a
        # plain divide raises DIVIDE_BY_ZERO under ANSI)
        return F.round(F.try_divide(x, n.cast("double")), 6)

    return scored.agg(
        n.cast("bigint").alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
        F.sum("_nc").cast("bigint").alias("n_chars"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.count_distinct("_lang").cast("bigint").alias("n_langs"),
        rate(F.sum(F.when(F.col("_lang") == "en", 1).otherwise(0))).alias("pct_english"),
        rate(n - F.count_distinct("_h")).alias("exact_dup_rate"),
        # _q is 6-dp-rounded, hence exact in DECIMAL(18,6): the sum is
        # order-independent and the mean engine-portable (a raw double
        # avg would be partition-order-dependent at the last ulp)
        rate(F.sum(F.col("_q").cast("decimal(18,6)")).cast("double")).alias("mean_quality"),
        F.percentile(F.col("_nt"), F.lit(0.5)).alias("p50_tokens"),
    )


def zipf_fit(docs: DataFrame, n: int = 100, text_col: str = "text") -> DataFrame:
    """Zipf's-law fit of the corpus frequency curve: OLS of
    ln(count) on ln(rank) over the top-``n`` vocabulary — the one-row
    corpus health check (natural language sits near slope −1; heavy
    boilerplate/dedup failures flatten it, templated spam steepens
    it), and the sanity gate before trusting token-frequency-based
    filters.

    Scale shape: vocabulary ranking is the ``vocab_topn`` TakeOrdered
    (per-partition heaps, never a full sort); the ranked head is
    model-parameter scale (n rows) and inlines as a literal frame —
    the bm25 derived-query-band precedent — so the regression itself
    aggregates n rows with an ungrouped partial aggregate (benign
    single-partition merge). Returns one row (n_terms, slope,
    intercept, r2), 4-dp like ``regr_slope``."""
    top = vocab_topn(docs, text_col=text_col, n=n).collect()
    ranked = sorted(((int(r["n"]), r["token"]) for r in top),
                    key=lambda t: (-t[0], t[1]))
    lf = docs.sparkSession.createDataFrame(
        [(i + 1, cnt) for i, (cnt, _tok) in enumerate(ranked)],
        "rank int, cnt bigint",
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("cnt").cast("double"))
    return lf.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        (F.round(F.regr_slope(y, x), 4) + F.lit(0.0)).alias("slope"),
        (F.round(F.regr_intercept(y, x), 4) + F.lit(0.0)).alias("intercept"),
        (F.round(F.regr_r2(y, x), 4) + F.lit(0.0)).alias("r2"),
    )


def rake_keywords(
    docs: DataFrame,
    lang: str = "en",
    top: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal runs of non-stopword tokens; a word scores
    degree/frequency over ALL candidate occurrences (degree = summed
    length of the phrases it appears in); a phrase scores the sum of
    its word scores; keep each document's ``top`` phrases.

    Scale shape: phrase islands come from the gaps-and-islands trick —
    ``pos - row_number()`` inside a per-document window (parallel by
    doc key, no self-join); word statistics are one global groupBy on
    the word (map-side combined); the phrase re-score is an
    equi-join. No driver pulls, no UDFs.

    Float parity: per-word scores are frozen to integer micro-units
    (``floor(1e6 * degree/freq + 0.5)``) BEFORE the per-phrase sum, so
    the sum is exact bigint arithmetic in any aggregation order; the
    displayed score divides back once.

    Returns (doc_id, phrase, score, rank), rank 1..top per doc by
    score desc then phrase asc."""
    from pyspark.sql import Window

    stops = texttools.STOPWORDS[lang]
    flat = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(texttools.tokens(F.col(text_col))).alias("pos", "tok"),
    )
    ns = (
        flat.filter(~F.col("tok").isin(*stops))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("pos")
            ),
        )
        .withColumn("_grp", F.col("pos") - F.col("_rn"))
    )
    ph = ns.groupBy("doc_id", "_grp").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("phrase"),
        F.count(F.lit(1)).cast("bigint").alias("_plen"),
    )
    # word statistics over ALL candidate occurrences
    wip = ph.select(
        "doc_id", "phrase", "_plen", F.explode(F.split("phrase", " ")).alias("word")
    )
    ws = wip.groupBy("word").agg(
        F.count(F.lit(1)).alias("_freq"), F.sum("_plen").alias("_degree")
    )
    scored_words = ws.select(
        "word",
        F.floor(
            F.lit(1000000.0)
            * (F.col("_degree").cast("double") / F.col("_freq").cast("double"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("_sc"),
    )
    pdist = ph.select("doc_id", "phrase").distinct()
    wp = pdist.select(
        "doc_id", "phrase", F.explode(F.split("phrase", " ")).alias("word")
    )
    pscore = (
        wp.join(scored_words, "word")
        .groupBy("doc_id", "phrase")
        .agg(
            F.round(F.sum("_sc").cast("double") / F.lit(1000000.0), 6).alias(
                "score"
            )
        )
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("phrase")
    )
    return (
        pscore.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= top)
        .select("doc_id", "phrase", "score", "rank")
    )


def textrank_keywords(
    docs: DataFrame,
    lang: str = "en",
    iters: int = 3,
    top: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    corpus-level keywords ranked by damped PageRank over the
    candidate-word co-occurrence graph — the graph-centrality
    companion to ``rake_keywords`` (that one scores phrases by local
    degree/frequency; this one lets importance PROPAGATE through the
    co-occurrence structure).

    Graph construction: tokens in document order, stopwords removed;
    an undirected edge links each surviving word to its immediate
    successor (window 2 over the candidate sequence, the paper's
    default) — a lead() window per document, never a self-join. Edges
    are distinct and symmetrized, then ranked by the SAME
    power-iteration machinery as the co-purchase PageRank
    (``graph.ranks_over_edges``: truncate-to-12dp contributions,
    DECIMAL-exact sums, per-iteration lineage truncation — the oracle
    twin unrolls identical CTEs).

    Scale shape (100 TB): tokenization and the lead() pairing are
    map-side / per-doc-partition; the edge distinct and per-iteration
    contribution aggregations are vocabulary-keyed (Zipf-small vs the
    corpus); the rank vector broadcasts below the node gate.

    Returns (token, score, rank) for the ``top`` tokens, rank by
    truncated score desc then token asc."""
    from pyspark.sql import Window

    from . import graph

    stops = texttools.STOPWORDS[lang]
    flat = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(texttools.tokens(F.col(text_col))).alias(
            "pos", "tok"
        ),
    ).filter(~F.col("tok").isin(stops))
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = flat.select(
        "doc_id",
        F.col("tok").alias("a"),
        F.lead("tok").over(w).alias("b"),
    ).filter(F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    half = pairs.select("a", "b").distinct()
    edges = (
        half.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(
            half.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        .distinct()
    )
    ranks = graph.ranks_over_edges(edges, iters=iters)
    # vocab-sized single-partition window: the rank vector is the
    # Zipf-small node set, not the corpus
    return (
        ranks.select(
            F.col("node").alias("token"),
            F.col("r").alias("score"),
        )
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("token")))
            .cast("int"),
        )
        .filter(F.col("rank") <= top)
    )


# Agreement formula text shared with oracle.JUDGE_AGREEMENT_Q: exact
# BIGINT cell counts into fixed double expressions.
KAPPA_PO = (
    "(CAST(n11 AS DOUBLE) + CAST(n00 AS DOUBLE)) / CAST(n AS DOUBLE)"
)
KAPPA_PE = (
    "(CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)"
    " + CAST(n00 + n01 AS DOUBLE) * CAST(n00 + n10 AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
)


def judge_agreement(docs: DataFrame) -> DataFrame:
    """Cohen's kappa between two automated document-quality judges:
    the multi-signal ``quality_ensemble`` gate (judge A: kept) and the
    CCNet perplexity terciles (judge B: bucket != 'tail') — the
    inter-rater-agreement primitive behind every LLM-judge /
    classifier-ensemble curation pipeline ("do my filters agree
    beyond chance, and where do they split?"). Kappa corrects raw
    agreement for the agreement two independent judges with these
    marginals would reach by luck.

    Scale shape: both judges are existing one-pass operators; the
    agreement join is doc-key co-partitioned; everything after is a
    single 4-cell aggregation and closed-form doubles on one row.

    Returns one row: (n, n11, n10, n01, n00, po, pe, kappa) — n11 =
    both keep, n10 = ensemble-only keep, n01 = tercile-only keep."""
    a = quality_ensemble(docs).select(
        "doc_id", F.col("kept").cast("int").alias("ja")
    )
    b = xent_buckets(docs).select(
        "doc_id",
        F.when(F.col("bucket") != "tail", 1).otherwise(0).alias("jb"),
    )
    joined = a.join(b, "doc_id")
    stats = joined.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(ja * jb) AS BIGINT)").alias("n11"),
        F.expr("CAST(sum(ja * (1 - jb)) AS BIGINT)").alias("n10"),
        F.expr("CAST(sum((1 - ja) * jb) AS BIGINT)").alias("n01"),
        F.expr("CAST(sum((1 - ja) * (1 - jb)) AS BIGINT)").alias("n00"),
    )
    return stats.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(f"round({KAPPA_PO}, 6)").alias("po"),
        F.expr(f"round({KAPPA_PE}, 6)").alias("pe"),
        F.expr(
            f"round(({KAPPA_PO} - ({KAPPA_PE}))"
            f" / nullif(CAST(1 AS DOUBLE) - ({KAPPA_PE}), 0.0), 6)"
            " + 0.0"
        ).alias("kappa"),
    )


# Interpolated Kneser–Ney conditional, shared verbatim with the twin:
# all factors exact counts CAST to DOUBLE, identical operator tree.
KN_P = (
    "(greatest(CAST(c2 AS DOUBLE) - CAST(0.75 AS DOUBLE),"
    " CAST(0 AS DOUBLE)) / CAST(c1 AS DOUBLE)"
    " + CAST(0.75 AS DOUBLE) * CAST(n1p AS DOUBLE) / CAST(c1 AS DOUBLE)"
    " * (CAST(nend AS DOUBLE) / CAST({ntot} AS DOUBLE)))"
)


def kneser_ney_xent(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-entropy under an interpolated KNESER–NEY
    bigram LM (Kneser & Ney 1995; the smoothing KenLM ships and
    CCNet-style perplexity filters actually use) — the published
    upgrade over ``bigram_xent``'s add-one model: absolute
    discounting D=0.75 on the bigram count, with the discount mass
    backed off to the CONTINUATION unigram P_cont(w2) =
    |distinct left-contexts of w2| / |distinct bigram types| (how
    many contexts a word follows, not how often it occurs — the
    famous "San Francisco" correction where 'Francisco' is frequent
    but predictable).

    P(w2|w1) = max(c(w1w2)-D, 0)/c(w1)
             + D · N1+(w1,·)/c(w1) · P_cont(w2).
    Every scored bigram is observed (model fit on the same corpus),
    so the join is total and all denominators positive.

    Scale shape mirrors ``bigram_xent``: the model is three
    Zipf-small DataFrames (bigram counts, per-prefix totals +
    continuation fan-outs, per-word context counts) from ONE shingle
    groupBy; the distinct-bigram total enters as a scalar; scoring is
    one equi-join on the bigram string. Parity: per-bigram -ln P
    rounded 12 dp, DECIMAL(26,12) sum, 6-dp mean.

    Returns (doc_id, n_bigrams, kn_xent), NULL for docs under 2
    tokens."""
    bg = docs.select(
        F.col(id_col),
        F.explode_outer(
            texttools.word_shingles(texttools.tokens(F.col(text_col)), 2)
        ).alias("bg"),
    )
    model = (
        bg.filter(F.col("bg").isNotNull())
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c2"))
        .withColumn("w1", F.substring_index(F.col("bg"), " ", 1))
        .withColumn("w2", F.substring_index(F.col("bg"), " ", -1))
        .persist()
    )
    left = model.groupBy("w1").agg(
        F.sum("c2").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1p"),
    )
    right = model.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("nend")
    )
    ntot = model.agg(F.count(F.lit(1)).alias("_n")).first()["_n"]
    logp = (
        model.join(left, "w1")
        .join(right, "w2")
        .select(
            "bg",
            F.expr(
                f"CAST(round(-ln({KN_P.format(ntot=int(ntot))}), 12)"
                " AS DECIMAL(26,12))"
            ).alias("neg_logp"),
        )
    )
    per_doc = (
        bg.filter(F.col("bg").isNotNull())
        .join(logp, "bg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("neg_logp").alias("_s"),
        )
    )
    base = docs.select(id_col)
    return base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.expr("CAST(coalesce(n_bigrams, 0) AS BIGINT)").alias(
            "n_bigrams"
        ),
        F.expr(
            "CASE WHEN n_bigrams > 0"
            " THEN round(CAST(_s AS DOUBLE) / n_bigrams, 6) END"
        ).alias("kn_xent"),
    )


def cdc_chunks(
    docs: DataFrame,
    w: int = 4,
    div: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (the rsync / LBFS rolling-hash cut
    rule; Muthitacharoen et al. 2001): a chunk boundary falls after
    any ``w``-token window whose fingerprint is 0 mod ``div`` —
    boundaries move WITH the content, so an insertion near the top of
    a document reshuffles only the chunk it lands in, where
    fixed-width chunking (``chunk_documents``) shifts every downstream
    chunk. The storage-dedup primitive: identical text regions yield
    identical (hash, length) chunks wherever they sit.

    Scale shape: windows and the boundary predicate are MAP-SIDE
    (word_shingles + md5 — fixed-width fingerprints, never window
    text); the cut→chunk assignment is one per-doc running sum over
    token positions (partitioned by doc — parallel, no cross-doc
    traffic); per-chunk rows aggregate with an order-pinned
    array_sort(collect_list(struct(pos, tok))) so the chunk hash is
    partition-order-independent. Expected chunk length is ~``div``
    tokens (geometric); production variants add min/max clamps —
    omitted here so the cut rule stays a pure per-window predicate
    both engines replay.

    Returns (doc_id, chunk_idx, start_tok, end_tok, n_tokens,
    chunk_hash): 0-based inclusive token offsets, chunk_idx 0-based
    per doc, md5 of the space-joined chunk text."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(texttools.tokens(F.col(text_col))).alias("pos", "tok"),
    )
    cuts = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.posexplode(
                texttools.word_shingles(
                    texttools.tokens(F.col(text_col)), w
                )
            ).alias("p", "win"),
        )
        .filter(
            F.expr(
                "CAST(conv(substring(md5(win), 1, 8), 16, 10) AS BIGINT)"
                f" % {div} = 0"
            )
        )
        .select("doc", (F.col("p") + F.lit(w)).alias("cut"))
    )
    flagged = toks.join(
        cuts, (toks["doc"] == cuts["doc"]) & (toks["pos"] == cuts["cut"]),
        "left",
    ).select(
        toks["doc"], "pos", "tok",
        F.when(cuts["cut"].isNotNull(), 1).otherwise(0).alias("_cut"),
    )
    wdoc = Window.partitionBy("doc").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    assigned = flagged.withColumn("chunk_idx", F.sum("_cut").over(wdoc))
    return (
        assigned.groupBy("doc", "chunk_idx")
        .agg(
            F.min("pos").cast("bigint").alias("start_tok"),
            F.max("pos").cast("bigint").alias("end_tok"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "tok"))
                        ),
                        lambda x: x["tok"],
                    ),
                    " ",
                )
            ).alias("chunk_hash"),
        )
        .select(
            F.col("doc").alias(id_col),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            "start_tok",
            "end_tok",
            "n_tokens",
            "chunk_hash",
        )
    )


def good_turing(docs: DataFrame, max_r: int = 10, text_col: str = "text") -> DataFrame:
    """Simple Good–Turing frequency table (Gale & Sampson 1995, the
    count-of-counts half) over corpus BIGRAMS: for bigram frequencies
    r = 1..``max_r``, the count-of-counts N_r, the Turing-discounted
    estimate r* = (r+1)·N_{r+1}/N_r, and the probability mass
    r·N_r/N — whose r=1 row IS the Good–Turing unseen-mass estimate
    P0 = N_1/N, the "how much of the n-gram space have I NOT seen
    yet" answer that drives Katz back-off discounting and
    crawl-stopping decisions. Bigrams, not unigrams, because that is
    where the estimator lives (unigram vocabularies saturate — this
    corpus's rarest token already appears 26×, so the unigram table
    is empty by construction; the bigram tail is live).

    Scale shape: one bigram groupBy (map-side combined over the
    map-only ``word_shingles`` explode), then a groupBy on the COUNT
    VALUE — the count-of-counts frame is tiny (distinct frequency
    values), and the r+1 lookup is a self-equi-join on that tiny
    frame. All integers until the two divisions (one shared double
    expression each, 6 dp).

    Returns (r, n_r, n_r_next, r_star, mass_share) for r = 1..max_r
    where N_r > 0."""
    counts = (
        docs.select(
            F.explode(
                texttools.word_shingles(
                    texttools.tokens(F.col(text_col)), 2
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    )
    ff = counts.groupBy("r").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    )
    # the corpus total enters as an uncorrelated scalar subquery — no
    # 1-row crossJoin/NLJ (r12 verdict item 7)
    total = counts.agg(
        F.sum("r").cast("bigint").alias("n_tokens")
    ).scalar()
    nxt = ff.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next")
    )
    return (
        ff.filter(F.col("r") <= max_r)
        .join(nxt, "r", "left")
        .withColumn("n_tokens", total)
        .select(
            "r",
            "n_r",
            F.coalesce("n_r_next", F.lit(0).cast("bigint")).alias(
                "n_r_next"
            ),
            F.round(
                (F.col("r") + 1).cast("double")
                * F.coalesce("n_r_next", F.lit(0).cast("bigint")).cast(
                    "double"
                )
                / F.col("n_r").cast("double"),
                6,
            ).alias("r_star"),
            F.round(
                (F.col("r") * F.col("n_r")).cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("mass_share"),
        )
        .orderBy("r")
    )


def lexical_diversity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source lexical-diversity profile: type-token ratio, Guiraud
    root-TTR (V/√N — the length-robust variant), Simpson repeat rate
    (Σ n_i(n_i−1) / N(N−1) — the chance two sampled tokens coincide),
    and Yule's K (10⁴·(Σn_i² − N)/N²) — the standard "is this source
    templated spam or natural prose" screens (boilerplate and
    machine-generated text collapse diversity long before exact dedup
    fires).

    Scale shape: one (source, token) groupBy (map-side combined), one
    per-source reduce. Exactness: n_i, N, V are integers; Σn_i² rides
    DECIMAL(38,0) (bigint would overflow when a 100 TB source's hot
    token squares past 9.2e18); each reported ratio is one shared
    double expression at 6 dp.

    Returns (source, n_tokens, n_types, ttr, root_ttr, simpson_rr,
    yule_k) ordered by source."""
    counts = (
        docs.select(
            "source",
            F.explode(texttools.tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_i"))
    )
    agg = counts.groupBy("source").agg(
        F.sum("n_i").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(
            (F.col("n_i") * F.col("n_i")).cast("decimal(38,0)")
        ).alias("s2"),
    )
    n = F.col("n_tokens").cast("double")
    v = F.col("n_types").cast("double")
    s2 = F.col("s2").cast("double")
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(v / n, 6).alias("ttr"),
        F.round(v / F.sqrt(n), 6).alias("root_ttr"),
        F.round(
            (s2 - n) / (n * (n - F.lit(1.0))), 6
        ).alias("simpson_rr"),
        F.round(F.lit(10_000.0) * (s2 - n) / (n * n), 6).alias(
            "yule_k"
        ),
    ).orderBy("source")


def _heaps_spine(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_ranges: int = 16,
) -> tuple[DataFrame, int]:
    """The cumulative (tokens, types) spine for ``heaps_law`` as a
    DISTRIBUTED two-pass prefix sum — the shape a 100 TB corpus needs,
    where a bare ``Window.orderBy`` cumsum would collapse every per-doc
    row onto one reducer:

      pass 0: doc-id bounds (one 1-row aggregate) define ``n_ranges``
        equal-width buckets — DETERMINISTIC integer arithmetic, unlike
        repartitionByRange's sampled boundaries, so the bucket id is
        stable across the subtotal job and the spine job;
      pass 1: per-bucket subtotals (Σ tokens, Σ new types, row count)
        — one map-side-combined groupBy, ``n_ranges`` rows collected;
      pass 2: the driver folds subtotals into EXCLUSIVE per-bucket
        offsets (broadcast as an n_ranges-row literal frame) and each
        bucket runs a LOCAL window cumsum (partitionBy bucket) on top
        of its offset.

    Returns (spine, n_docs): spine = (d, cum_tokens, cum_types, rn)
    with rn the 1-based global doc rank in ``id_col`` order; n_docs a
    driver int (from the pass-1 subtotals — no extra count job).
    Empty corpus → (empty frame, 0)."""
    toks = docs.select(
        F.col(id_col).alias("d"),
        F.explode(texttools.tokens(F.col(text_col))).alias("token"),
    )
    per_doc = toks.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok")
    )
    first = toks.groupBy("token").agg(F.min("d").alias("d"))
    new_types = first.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    base = per_doc.join(new_types, "d", "left").select(
        "d",
        "n_tok",
        F.coalesce("n_new", F.lit(0).cast("bigint")).alias("n_new"),
    )
    spark = docs.sparkSession
    bounds = base.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        empty = spark.createDataFrame(
            [], "d bigint, cum_tokens bigint, cum_types bigint, rn bigint"
        )
        return empty, 0
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    span = hi - lo + 1
    pid = F.floor(
        (F.col("d").cast("bigint") - F.lit(lo)) * F.lit(n_ranges)
        / F.lit(span)
    ).cast("int")
    staged = base.withColumn("pid", pid)
    subs = sorted(
        (
            int(r["pid"]),
            int(r["s_tok"]),
            int(r["s_new"]),
            int(r["n_rows"]),
        )
        for r in staged.groupBy("pid")
        .agg(
            F.sum("n_tok").cast("bigint").alias("s_tok"),
            F.sum("n_new").cast("bigint").alias("s_new"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .collect()
    )
    offs, o_tok, o_new, o_rows = [], 0, 0, 0
    for p, s_tok, s_new, n_rows in subs:
        offs.append((p, o_tok, o_new, o_rows))
        o_tok, o_new, o_rows = o_tok + s_tok, o_new + s_new, o_rows + n_rows
    off_df = spark.createDataFrame(
        offs, "pid int, off_tok bigint, off_new bigint, off_rows bigint"
    )
    w = Window.partitionBy("pid").orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    spine = staged.join(F.broadcast(off_df), "pid").select(
        "d",
        (F.col("off_tok") + F.sum("n_tok").over(w))
        .cast("bigint")
        .alias("cum_tokens"),
        (F.col("off_new") + F.sum("n_new").over(w))
        .cast("bigint")
        .alias("cum_types"),
        (
            F.col("off_rows")
            + F.row_number().over(Window.partitionBy("pid").orderBy("d"))
        )
        .cast("bigint")
        .alias("rn"),
    )
    return spine, o_rows


def heaps_law(
    docs: DataFrame,
    n_checkpoints: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: OLS of ln(cumulative
    types) on ln(cumulative tokens) at ``n_checkpoints`` evenly-spaced
    document checkpoints in ``id_col`` order — V(N) ≈ K·N^β, the
    "how fast does new vocabulary arrive" curve (natural corpora sit
    near β ≈ 0.5; β → 0 flags a closed/templated vocabulary, β → 1
    flags an ID/hash-riddled token stream that will blow the
    tokenizer) and the zipf_fit companion.

    Scale shape: cumulative TYPES need each token's first occurrence —
    one min(doc_id) groupBy on the token (map-side combined), then new
    types per doc is a doc-keyed count; cumulative counts are a
    TWO-PASS PARTITIONED PREFIX SUM over the per-doc rows (the r11
    docstring remedy, now the real code path): docs bucket by doc-id
    range (deterministic integer arithmetic off the min/max bounds —
    no sampling, so re-evaluation across jobs is stable), pass 1
    reduces per-bucket subtotals (``n_ranges`` rows, collected —
    bounded), the driver turns them into exclusive offsets, and pass 2
    is a PARTITIONED window cumsum (partitionBy bucket) plus the
    broadcast offset — never an ``Exchange SinglePartition`` over the
    spine (plan-asserted in test_plan_quality). Checkpoint selection
    is integer arithmetic (every ceil(n/k)-th doc-rank plus the final
    row). The fitted frame is ``n_checkpoints`` literal rows (the
    zipf_fit inline-frame precedent), aggregated with regr_* at 4 dp.

    Returns one row (n_points, beta, ln_k, r2)."""
    spine, n_docs = _heaps_spine(docs, text_col, id_col)
    if n_docs == 0:
        rows: list[tuple[int, int]] = []
    else:
        stride = (n_docs + n_checkpoints - 1) // n_checkpoints
        pts = spine.filter(
            (F.col("rn") % stride == 0) | (F.col("rn") == n_docs)
        ).select("cum_tokens", "cum_types")
        rows = sorted(
            (int(r["cum_tokens"]), int(r["cum_types"]))
            for r in pts.collect()
        )
    lf = docs.sparkSession.createDataFrame(
        rows, "cum_tokens bigint, cum_types bigint"
    )
    x = F.log(F.col("cum_tokens").cast("double"))
    y = F.log(F.col("cum_types").cast("double"))
    return lf.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        (F.round(F.regr_slope(y, x), 4) + F.lit(0.0)).alias("beta"),
        (F.round(F.regr_intercept(y, x), 4) + F.lit(0.0)).alias("ln_k"),
        (F.round(F.regr_r2(y, x), 4) + F.lit(0.0)).alias("r2"),
    )


def df_burstiness(
    docs: DataFrame,
    min_df: int = 5,
    top: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Church–Gale term burstiness: collection frequency over document
    frequency (cf/df — the mean repeat count inside the documents a
    term touches) for the ``top`` burstiest vocabulary — bursty terms
    (cf ≫ df) are topical/templated content concentrated in few docs,
    the opposite signal from evenly-spread function words; the screen
    that separates "frequent because everywhere" from "frequent
    because spammed".

    Scale shape: ONE (doc, token) groupBy gives per-doc counts; cf and
    df are both one more map-side-combined reduce over it (cf = Σ
    counts, df = row count — no second corpus scan); the top-n is a
    TakeOrdered with deterministic ties (burstiness desc, token asc).
    Integers until the single division (6 dp).

    Returns (token, cf, df, burstiness)."""
    per_doc = (
        docs.select(
            "doc_id",
            F.explode(texttools.tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    stats = per_doc.groupBy("token").agg(
        F.sum("c").cast("bigint").alias("cf"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    return (
        stats.filter(F.col("df") >= min_df)
        .select(
            "token",
            "cf",
            "df",
            F.round(
                F.col("cf").cast("double") / F.col("df").cast("double"),
                6,
            ).alias("burstiness"),
        )
        .orderBy(F.desc("burstiness"), F.asc("token"))
        .limit(top)
    )


# Krippendorff per-unit / per-value term texts shared with the DuckDB
# twin: both are single double expressions on exact BIGINT counts,
# routed through DECIMAL(28,12) before their sums (order-free).
KRIPP_UNIT_TERM = (
    "(CAST(m_u AS DOUBLE) * CAST(m_u AS DOUBLE)"
    " - CAST(sq AS DOUBLE)) / (CAST(m_u AS DOUBLE) - 1.0)"
)


def krippendorff_alpha(ratings: DataFrame) -> DataFrame:
    """Krippendorff's alpha (nominal metric) over a LONG ratings frame
    (unit, rater, value) — the inter-rater agreement statistic that,
    unlike Cohen's kappa (``judge_agreement``), handles ANY number of
    raters, missing ratings, and >2 categories in one number: the
    annotation-quality gate for LLM-judge panels and human labeling
    campaigns. α = 1 − D_o/D_e with observed disagreement summed per
    unit over its m_u ≥ 2 ratings and expected disagreement from the
    pooled value margins.

    Formulation (nominal δ): per unit, Σ_{c≠k} n_uc·n_uk = m_u² −
    Σ_c n_uc², divided by (m_u − 1); pooled, n² − Σ_c n_c², divided
    by (n − 1):  α = 1 − (n − 1)·Σ_u term_u / (n² − Σ_c n_c²)
    — every count is an exact integer; the per-unit rational terms
    ride DECIMAL(28,12); the final expression is one shared double.

    Scale shape: one (unit, value) groupBy (map-side combined), one
    per-unit reduce, one value-margin reduce — all keyed, no windows,
    no collects. Returns one row (n_units, n_ratings, n_values,
    d_o, d_e, alpha), d_o/d_e the per-pair disagreement rates,
    6 dp."""
    by_uv = ratings.groupBy("unit", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_uv")
    )
    by_u = (
        by_uv.groupBy("unit")
        .agg(
            F.sum("n_uv").cast("bigint").alias("m_u"),
            F.sum(F.col("n_uv") * F.col("n_uv"))
            .cast("bigint")
            .alias("sq"),
        )
        .filter(F.col("m_u") >= 2)
    )
    units = by_u.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("m_u").cast("bigint").alias("n_tot"),
        F.sum(
            F.expr(KRIPP_UNIT_TERM).cast("decimal(28,12)")
        ).alias("obs_sum"),
    )
    # margins over the SAME kept units (m_u >= 2)
    margins = (
        by_uv.join(by_u.select("unit"), "unit")
        .groupBy("value")
        .agg(F.sum("n_uv").cast("bigint").alias("n_c"))
    )
    # the 1-row margins reduction stays a broadcast crossJoin HERE, by
    # measurement: a scalar subquery is planned separately, so exchange
    # reuse cannot dedupe the expensive shared ratings build across the
    # subquery and the main plan (the r13 conversion attempt measured
    # 2x on the battery; within ONE tree, ReusedExchange computes the
    # by_uv shuffle once). A 1-row x 1-row broadcast NLJ is
    # model-parameter work at any scale — allowlisted with this note.
    marg = margins.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.sum(F.col("n_c") * F.col("n_c")).cast("bigint").alias(
            "sq_c"
        ),
    )
    n = F.col("n_tot").cast("double")
    d_o = F.col("obs_sum").cast("double") / n
    d_e = (n * n - F.col("sq_c").cast("double")) / (
        n * (n - F.lit(1.0))
    )
    return units.crossJoin(F.broadcast(marg)).select(
        "n_units",
        F.col("n_tot").alias("n_ratings"),
        "n_values",
        F.round(d_o, 6).alias("d_o"),
        F.round(d_e, 6).alias("d_e"),
        F.when(
            F.col("sq_c") < F.col("n_tot") * F.col("n_tot"),
            F.round(F.lit(1.0) - d_o / d_e, 6),
        ).alias("alpha"),
    )


# Flesch component expression texts shared with the DuckDB twin: both
# engines count the SAME regex structures (vowel runs cannot span
# whitespace, so the whole-text count equals the per-word sum; the
# character classes are written explicitly for Java-regex/RE2
# agreement — the BPE_TOKEN_PATTERN precedent).
FLESCH_EXPR = (
    "206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(sents AS DOUBLE))"
    " - 84.6 * (CAST(sylls AS DOUBLE) / CAST(words AS DOUBLE))"
)


def readability(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease per source (Flesch 1948; the readability
    screen quality pipelines run next to perplexity): 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words), with syllables
    approximated as lowercase vowel-run counts and sentences as
    [.!?]+ runs clamped to ≥1 per doc — a corpus with no sentence
    punctuation (this synthetic one) scores as one giant run-on,
    which is exactly what the screen is FOR.

    Exactness: all three components are integer counts summed per
    source (map-side combined); the score is ONE shared double
    expression (``FLESCH_EXPR``) on the per-source totals, 6 dp —
    equivalent to the doc-count-weighted formula on pooled text.

    Returns (source, n_docs, words, sents, sylls, flesch) ordered by
    source."""
    text = F.col(text_col)
    per_doc = docs.select(
        "source",
        F.size(texttools.tokens(text)).cast("bigint").alias("w"),
        F.greatest(
            F.size(F.expr(f"regexp_extract_all({text_col}, '[.!?]+', 0)")),
            F.lit(1),
        )
        .cast("bigint")
        .alias("s"),
        F.size(
            F.expr(
                f"regexp_extract_all(lower({text_col}), '[aeiouy]+', 0)"
            )
        )
        .cast("bigint")
        .alias("sy"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("words"),
        F.sum("s").cast("bigint").alias("sents"),
        F.sum("sy").cast("bigint").alias("sylls"),
    )
    return agg.select(
        "source",
        "n_docs",
        "words",
        "sents",
        "sylls",
        F.round(F.expr(FLESCH_EXPR), 6).alias("flesch"),
    ).orderBy("source")


def _xlnx(c: F.Column) -> F.Column:
    """x·ln(x) with the 0·ln(0) = 0 convention — the Shannon/Dunning
    building block, kept in one fixed shape so the oracle twin's
    identical expression rounds the same double."""
    d = c.cast("double")
    return F.when(c > 0, d * F.log(d)).otherwise(F.lit(0.0))


def bigram_llr(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top: int = 50,
) -> DataFrame:
    """Dunning log-likelihood-ratio collocations (Dunning 1993): the
    G² statistic of the 2×2 bigram contingency table — rows "first
    word is x", columns "second word is y" over the N adjacent-pair
    events — the phrase-mining score that, unlike PMI, does not
    explode on rare pairs (it weighs evidence, not just lift).

    Margins are the PREFIX and SUFFIX counts from the bigram stream
    itself (NOT unigram counts — those double-count sentence edges and
    can push k22 negative): k11 = c(xy), k12 = pre(x) − k11,
    k21 = suf(y) − k11, k22 = N − pre(x) − suf(y) + k11, and
    G² = 2·(ΣS(k) − S(r1) − S(r2) − S(c1) − S(c2) + S(N)) with
    S = x·ln x — every operand an exact integer until the ln.

    Scale shape: one map-only shingle explode feeds THREE map-side-
    combined groupBys (bigram / prefix / suffix counts); ``min_count``
    prunes the head BEFORE the two margin-lookup joins (margin frames
    are Zipf-small — AQE broadcasts); top-n is a TakeOrdered.

    Returns (bigram, cnt, pre_x, suf_y, llr) — llr 6-dp, desc, bigram
    tie-break, limit ``top``."""
    toks = texttools.tokens(F.col(text_col))
    big_all = (
        docs.select(F.explode(texttools.word_shingles(toks, 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    parts = F.split(F.col("bigram"), " ", 2)
    split_all = big_all.select(
        "bigram", "cnt", parts[0].alias("_x"), parts[1].alias("_y")
    )
    pre = split_all.groupBy("_x").agg(F.sum("cnt").cast("bigint").alias("pre_x"))
    suf = split_all.groupBy("_y").agg(F.sum("cnt").cast("bigint").alias("suf_y"))
    n_big = (
        docs.agg(F.sum(F.greatest(F.size(toks) - 1, F.lit(0))).alias("b"))
        .scalar()
        .cast("bigint")
    )
    head = split_all.filter(F.col("cnt") >= min_count)
    j = head.join(pre, "_x").join(suf, "_y").withColumn("n_all", n_big)
    k11 = F.col("cnt")
    k12 = F.col("pre_x") - k11
    k21 = F.col("suf_y") - k11
    k22 = F.col("n_all") - F.col("pre_x") - F.col("suf_y") + k11
    r2 = F.col("n_all") - F.col("pre_x")
    c2 = F.col("n_all") - F.col("suf_y")
    # fixed left-to-right association — the oracle twin writes the
    # identical term order; + 0.0 normalizes a rounded -0.0
    llr = F.round(
        F.lit(2.0)
        * (
            _xlnx(k11) + _xlnx(k12) + _xlnx(k21) + _xlnx(k22)
            - _xlnx(F.col("pre_x")) - _xlnx(r2)
            - _xlnx(F.col("suf_y")) - _xlnx(c2)
            + _xlnx(F.col("n_all"))
        ),
        6,
    ) + F.lit(0.0)
    return (
        j.select("bigram", "cnt", "pre_x", "suf_y", llr.alias("llr"))
        .orderBy(F.desc("llr"), F.asc("bigram"))
        .limit(top)
    )


def langid_confusion(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Confusion matrix of the n-gram language-ID heuristic against
    the labeled ``lang`` column — the eval that turns lang_id from a
    feature into a measured classifier (per-label recall shares are
    what a corpus-mix designer actually reads before trusting the
    predictions to route documents).

    ONE groupBy over (label, prediction) — cells are
    |labels|×|langs|-sized, constants — plus a label-total join for
    the recall share (exact integer counts, one terminal division).

    Returns (label, pred, n, label_n, share) ordered by label, pred."""
    pred = texttools.lang_id(F.col(text_col))
    cells = docs.groupBy(
        F.col("lang").alias("label"), pred.alias("pred")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    totals = cells.groupBy("label").agg(
        F.sum("n").cast("bigint").alias("label_n")
    )
    return (
        cells.join(totals, "label")
        .select(
            "label",
            "pred",
            "n",
            "label_n",
            (F.col("n").cast("double") / F.col("label_n").cast("double")).alias(
                "share"
            ),
        )
        .orderBy("label", "pred")
    )


def vocab_coverage(
    docs: DataFrame,
    ks: tuple = (10, 100, 1000),
    text_col: str = "text",
) -> DataFrame:
    """Top-k vocabulary coverage curve: the share of all token
    occurrences covered by the k most frequent tokens, for each
    ``k`` — the Zipf-head summary a tokenizer designer reads to size a
    vocabulary (50% coverage from 100 tokens is natural text; needing
    10⁵ flags an ID-riddled stream).

    Scale shape: ONE map-side-combined vocab count; the head is a
    TakeOrdered ``limit(max(ks))`` (count desc, token asc — total
    order), so the cumulative window runs over at most ``max(ks)``
    LITERAL rows (bounded, like the heaps_law checkpoint frame — a
    deliberate, constant-size single partition, not a data-sized one);
    the total enters as a scalar subquery. All exact integers until
    the share division.

    Returns one row per k: (k, covered, total, share) — k asc; when
    the vocabulary is smaller than k the full-vocab coverage (share
    1.0) is reported."""
    toks = texttools.tokens(F.col(text_col))
    vocab = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    total = vocab.agg(F.sum("cnt").alias("t")).scalar().cast("bigint")
    head = vocab.orderBy(F.desc("cnt"), F.asc("tok")).limit(max(ks))
    w = Window.orderBy(F.desc("cnt"), F.asc("tok")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = head.select(
        F.row_number().over(w).alias("rn"),
        F.sum("cnt").over(w).cast("bigint").alias("covered"),
    )
    n_vocab = vocab.agg(F.count(F.lit(1)).alias("v")).scalar().cast("bigint")
    spark = docs.sparkSession
    kf = spark.createDataFrame([(int(k),) for k in sorted(ks)], "k bigint")
    return (
        kf.withColumn("v", n_vocab)
        .join(ranked, F.col("rn") == F.least(F.col("k"), F.col("v")))
        .select(
            "k",
            "covered",
            total.alias("total"),
            (F.col("covered").cast("double") / total.cast("double")).alias(
                "share"
            ),
        )
        .orderBy("k")
    )
