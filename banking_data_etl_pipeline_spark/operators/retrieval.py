"""Sparse lexical retrieval (BM25) over the documents corpus — the IR
primitive a training-data pipeline runs for benchmark decontamination
sweeps ("which training docs score highly against eval-set queries"),
targeted corpus audits, and RAG-style evidence pulls.

Spark-first shape: one tokenize+explode pass builds the term
frequencies and document lengths (both groupBys with map-side
combine); document frequencies aggregate the DISTINCT postings; corpus
scalars (N, avgdl) ride as scalar subqueries — never a driver pull.
Scoring joins the (small) query-term table to the postings on the term
— an inverted-index equi-join, so only documents containing a query
term are ever scored; the corpus is never scanned per query. Top-k is
``relational.top_k``: Spark's WindowGroupLimit prunes each partition to
k rows per query before the one exchange, so no single reducer sorts a
hot term's whole posting list.

Cross-engine float parity: per-term BM25 contributions are computed by
ONE formula text shared verbatim with the DuckDB twin (the ols2
precedent), rounded to 12 dp, summed exactly as DECIMAL(26,12) (the
DSIR pattern — addition order can't flip a bit), and the final score
is 6-dp rounded with (score desc, doc_id asc) ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import texttools, vectors
from ..session import iterate, pin_for_query
from .relational import top_k

# shared verbatim with oracle.BM25_TOPK_Q — evaluated over double
# columns (tf, df, dl, n_docs, avgdl) in both engines, so the doubles
# are bit-identical. Okapi BM25 with the +1 idf floor (Lucene form):
# idf = ln(1 + (N - df + 0.5)/(df + 0.5)) >= 0 even for df > N/2.
BM25_TERM_FORMULA = (
    "ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE))"
    " / (df + CAST(0.5 AS DOUBLE)))"
    " * (tf * (CAST({k1} AS DOUBLE) + CAST(1.0 AS DOUBLE)))"
    " / (tf + CAST({k1} AS DOUBLE) * (CAST(1.0 AS DOUBLE)"
    " - CAST({b} AS DOUBLE)"
    " + CAST({b} AS DOUBLE) * dl / avgdl))"
)


def derived_query_terms(
    tk: DataFrame,
    n_queries: int = 5,
    terms_per_query: int = 2,
    vocab_rank_start: int = 11,
) -> DataFrame:
    """The corpus-derived query set shared by bm25_topk and the
    ranking-eval metrics: vocabulary ranked by (total occurrences
    desc, token asc), ranks ``vocab_rank_start`` .. become
    ``n_queries`` queries of ``terms_per_query`` tokens each. The
    ranking is a TakeOrdered partial top-N whose rows collect and
    inline as a literal table (model-parameter scale)."""
    vocab = tk.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    n_terms = n_queries * terms_per_query
    top = (
        vocab.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(vocab_rank_start - 1 + n_terms)
        .collect()
    )
    sel = top[vocab_rank_start - 1:]
    if len(sel) < n_terms:
        # a short vocabulary would silently produce an EMPTY (and
        # vacuously oracle-matching) result — fail loudly instead,
        # the psi_drift degenerate-domain convention
        raise ValueError(
            f"bm25_topk: vocabulary has {len(top)} tokens, need "
            f">= {vocab_rank_start - 1 + n_terms} for the derived "
            "query band — lower vocab_rank_start or shrink the query set"
        )
    return tk.sparkSession.createDataFrame(
        [(i // terms_per_query, r.token) for i, r in enumerate(sel)],
        "query_id int, token string",
    )


def bm25_topk(
    docs: DataFrame,
    k: int = 10,
    k1: str = "1.2",
    b: str = "0.75",
    n_queries: int = 5,
    terms_per_query: int = 2,
    vocab_rank_start: int = 11,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25.

    The query set is DERIVED deterministically from the corpus (the
    fixture has no external query log): vocabulary ranked by (total
    occurrences desc, token asc), ranks ``vocab_rank_start`` ..
    ``+ n_queries*terms_per_query - 1`` become ``n_queries`` queries of
    ``terms_per_query`` terms each — mid-frequency terms, so posting
    lists are non-trivial but selective. The ranking is a TakeOrdered
    top-(start+terms-1) (partial heaps — a global row_number window would plan a
    single-partition exchange) whose term rows collect to the driver
    and inline as a literal query table: model-parameter scale (a few
    strings), the centroid-inlining precedent. A production caller
    swaps the derived table for its real (query_id, token) pairs;
    everything downstream is unchanged. ``k1``/``b`` are passed as SQL
    literal strings because they are spliced into the shared formula
    text.

    Returns (query_id, doc_id, score, rank), rank 1..k per query by
    (score desc, doc_id asc)."""
    # persist the postings for the query scope: four consumers (tf,
    # dl, df, vocab ranking) would each re-run tokenize+explode
    # otherwise.
    token = F.explode(texttools.tokens(F.col(text_col))).alias("token")
    tk = pin_for_query(docs.select(F.col(id_col), token))
    tf = tk.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = tk.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    dfreq = (
        tk.select(id_col, "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    qterms = derived_query_terms(
        tk, n_queries, terms_per_query, vocab_rank_start
    )
    # prune the document-frequency table to the query terms BEFORE
    # broadcasting: F.broadcast overrides the size threshold, and the
    # vocabulary is corpus-sized (billions of tokens at 100 TB) —
    # broadcasting it whole is a driver pull in disguise. The semi-join
    # keys on the tiny query-term set, so the broadcast is bounded by
    # n_queries*terms_per_query rows.
    dfreq_q = dfreq.join(
        F.broadcast(qterms.select("token").distinct()), "token", "left_semi"
    )
    # corpus scalars: N over ALL docs (empty docs count toward both),
    # avgdl = sum(dl)/N in double — identical arithmetic in the twin.
    # dl is absent for token-less docs, so avgdl uses the doc count
    # from `docs`, not from dl.
    n_docs = docs.agg(F.count(F.lit(1)).alias("n")).scalar().cast("double")
    sum_dl = dl.agg(F.sum("dl").alias("s")).scalar().cast("double")
    cand = (
        tf.join(F.broadcast(qterms), "token")
        .join(dl, id_col)
        .select(
            "query_id",
            F.col(id_col).alias("doc_id"),
            F.col("tf").cast("double").alias("tf"),
            F.col("dl").cast("double").alias("dl"),
            "token",
        )
        .join(F.broadcast(dfreq_q), "token")
        .withColumn("df", F.col("df").cast("double"))
        .withColumn("n_docs", n_docs)
        .withColumn("avgdl", sum_dl / n_docs)
    )
    term_score = F.expr(BM25_TERM_FORMULA.format(k1=k1, b=b))
    scored = (
        cand.select(
            "query_id",
            "doc_id",
            F.round(term_score, 12).cast("decimal(26,12)").alias("ts"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("ts").cast("double"), 6).alias("score"))
    )
    return _doc_topk(scored, k)


def _by_score():
    """Best first, the lower doc_id on a tie."""
    return [F.col("score").desc(), F.col("doc_id").asc()]


def _doc_topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, doc_id, score, rank): the top ``k`` documents per
    query, pruned per partition before the exchange (``top_k``)."""
    return top_k(scored, "query_id", _by_score(), k).select(
        "query_id", "doc_id", "score", "rank"
    )


# Reciprocal-rank-fusion constant (Cormack et al. 2009's k=60) — shared
# with oracle.hybrid_rank_fusion_sql so both engines divide by the same
# integer literals.
RRF_K = 60


def hybrid_rank_fusion(
    docs: DataFrame,
    emb: DataFrame,
    n_queries: int = 5,
    m_terms: int = 8,
    k_arm: int = 20,
    k: int = 10,
    k1: str = "1.2",
    b: str = "0.75",
    rrf_k: int = RRF_K,
    text_col: str = "text",
    id_col: str = "doc_id",
    sem_arm: str = "brute",
) -> DataFrame:
    """Hybrid retrieval: BM25 more-like-this ∪ cosine ANN, fused by
    reciprocal-rank fusion (RRF) — the standard two-arm ranker a RAG /
    decontamination pipeline runs when neither lexical nor semantic
    recall alone suffices.

    Query set: the ``n_queries`` lowest ``doc_id`` documents (which by
    fixture construction share the embedding id space, vec_id ==
    doc_id). Per query document, the lexical arm reduces the query to
    its ``m_terms`` most distinctive tokens by tf·ln(N/df) — query
    reduction, so a long query document doesn't fan out across every
    posting list it touches — then scores candidates through the SAME
    BM25 machinery (formula text, 12-dp decimal sum, 6-dp round) as
    ``bm25_topk``. The semantic arm is ``similarity.brute_force_topk``
    over the embeddings (broadcast queries, map-side scoring). Each arm
    keeps its top ``k_arm``; fusion is a full outer join of two
    (n_queries × k_arm)-row lists — driver-trivial at any corpus size —
    with rrf = Σ 1/(rrf_k + rank), a missing arm contributing 0. At
    100 TB the lexical arm is an inverted-index equi-join and the
    semantic arm is the pluggable ANN family — ``sem_arm="brute"``
    (exact, the eval arm) or ``sem_arm="ivf"`` (the trained
    cell-probed index, the production scale path; registered as
    ``rank_fusion_ann`` with its own oracle) — the fusion stage is
    identical either way and never grows beyond queries × 2k rows.

    Returns (query_id, doc_id, rrf, lex_rank, sem_rank, rank), rank
    1..k per query by (rrf desc, doc_id asc); arm ranks are NULL when
    only the other arm retrieved the document.
    """
    from . import similarity

    # postings persist for the query scope: four consumers (tf, dl,
    # df, query-reduction) would each re-run tokenize+explode otherwise
    token = F.explode(texttools.tokens(F.col(text_col))).alias("token")
    tk = pin_for_query(docs.select(F.col(id_col), token))
    tf = tk.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = tk.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    dfreq = (
        tk.select(id_col, "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n")).scalar().cast("double")
    sum_dl = dl.agg(F.sum("dl").alias("s")).scalar().cast("double")

    # ---- lexical arm: query reduction, then BM25 over the postings
    qdocs = (
        docs.orderBy(F.col(id_col).asc())
        .limit(n_queries)
        .select(F.col(id_col).alias("query_id"))
    )
    q_tf = tf.join(F.broadcast(qdocs), tf[id_col] == qdocs["query_id"])
    # dfreq pruned to the query documents' own tokens before any
    # broadcast: the full-vocabulary table is corpus-sized at 100 TB
    # and must never be force-broadcast whole (r7 ADVICE). The
    # semi-join's right side is the tiny distinct-token set of
    # n_queries documents; AQE broadcasts it at runtime.
    dfreq_qd = dfreq.join(q_tf.select("token").distinct(), "token", "left_semi")
    qterm_pool = (
        q_tf.join(F.broadcast(dfreq_qd), "token")
        .select(
            "query_id",
            "token",
            (
                F.col("tf").cast("double")
                * F.log(n_docs / F.col("df").cast("double"))
            ).alias("w"),
        )
    )
    by_weight = [F.col("w").desc(), F.col("token").asc()]
    qterms = top_k(qterm_pool, "query_id", by_weight, m_terms, "_r").select(
        "query_id", "token"
    )
    # same pruning for the scoring join: bounded by n_queries*m_terms
    dfreq_q = dfreq.join(
        F.broadcast(qterms.select("token").distinct()), "token", "left_semi"
    )
    cand = (
        tf.join(F.broadcast(qterms), "token")
        .filter(F.col(id_col) != F.col("query_id"))
        .join(dl, id_col)
        .select(
            "query_id",
            F.col(id_col).alias("doc_id"),
            F.col("tf").cast("double").alias("tf"),
            F.col("dl").cast("double").alias("dl"),
            "token",
        )
        .join(F.broadcast(dfreq_q), "token")
        .withColumn("df", F.col("df").cast("double"))
        .withColumn("n_docs", n_docs)
        .withColumn("avgdl", sum_dl / n_docs)
    )
    term_score = F.expr(BM25_TERM_FORMULA.format(k1=k1, b=b))
    lex_scored = (
        cand.select(
            "query_id",
            "doc_id",
            F.round(term_score, 12).cast("decimal(26,12)").alias("ts"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("ts").cast("double"), 6).alias("score"))
    )
    lex = top_k(
        lex_scored, "query_id", _by_score(), k_arm, "lex_rank"
    ).select("query_id", "doc_id", "lex_rank")

    # ---- semantic arm: cosine top-k over the shared id space
    if sem_arm == "ivf":
        sem_raw = similarity.ivf_topk(
            emb, similarity.corpus_queries(emb, n=n_queries), k=k_arm
        )
    elif sem_arm == "brute":
        sem_raw = similarity.brute_force_topk(
            emb, similarity.corpus_queries(emb, n=n_queries), k=k_arm
        )
    else:
        raise ValueError(f"hybrid_rank_fusion: unknown sem_arm {sem_arm!r}")
    sem = sem_raw.select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )

    # ---- RRF fusion of two tiny ranked lists
    fused = lex.join(sem, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(rrf_k) + F.col("sem_rank")), F.lit(0.0)
            ),
            6,
        ).alias("rrf"),
        "lex_rank",
        "sem_rank",
    )
    by_rrf = [F.col("rrf").desc(), F.col("doc_id").asc()]
    return top_k(fused, "query_id", by_rrf, k).select(
        "query_id", "doc_id", "rrf", "lex_rank", "sem_rank", "rank"
    )


def phrase_search(
    docs: DataFrame,
    n_queries: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-phrase search through a POSITIONAL inverted index — the
    retrieval primitive behind verbatim-quote contamination checks and
    boilerplate hunting.

    The match is a posting-list intersection: tokenize+posexplode once
    into (doc_id, pos, token), restrict to the first phrase word by a
    broadcast join against the query table, then equi-join the second
    word's postings ON (doc_id, pos+1, token) — Spark extracts
    ``pos2 = pos + 1`` as an equi-key, so this plans as a hash join
    touching ONLY the query terms' posting lists, never a full-corpus
    scan per query (the LIKE-scan alternative reads every byte of
    every document for every phrase). At 100 TB the positions table is
    the write-once index; per-phrase cost is proportional to the two
    posting lists alone.

    Query phrases are derived from the corpus (no external query log):
    the ``n_queries`` most frequent adjacent bigrams by (count desc,
    bigram asc) — guaranteed non-empty result sets. A production
    caller passes real phrases through the same join.

    Returns (query_id, phrase, doc_id, n_hits) where n_hits counts
    occurrence POSITIONS (overlaps included), one row per matching
    document per phrase."""
    toks = texttools.tokens(F.col(text_col))
    # tokenized-corpus persist for the query scope: the bigram query
    # derivation AND both phrase-word probes read it, so tokenization
    # runs once, not three times (r12: this was the r10->r11
    # phrase_search drift — the positional persist alone still
    # re-tokenized for the bigram pass)
    base = pin_for_query(docs.select(F.col(id_col), toks.alias("toks")))
    pos = base.select(
        id_col, F.posexplode("toks").alias("pos", "token")
    )
    bigrams = base.select(
        F.explode(
            F.expr(
                "CASE WHEN size(toks) < 2 THEN array() ELSE"
                " zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> concat(a, ' ', b)) END"
            )
        ).alias("bigram")
    )
    top = (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(n_queries)
        .collect()
    )
    qdf = docs.sparkSession.createDataFrame(
        [
            (i, r.bigram, r.bigram.split(" ")[0], r.bigram.split(" ")[1])
            for i, r in enumerate(top)
        ],
        "query_id int, phrase string, w1 string, w2 string",
    )
    p1 = pos.join(F.broadcast(qdf), F.col("token") == F.col("w1")).select(
        "query_id", "phrase", "w2", F.col(id_col), "pos"
    )
    p2 = pos.select(
        F.col(id_col).alias("_d2"),
        F.col("pos").alias("_pos2"),
        F.col("token").alias("_t2"),
    )
    hits = p1.join(
        p2,
        (F.col(id_col) == F.col("_d2"))
        & (F.col("_pos2") == F.col("pos") + 1)
        & (F.col("_t2") == F.col("w2")),
    )
    return hits.groupBy("query_id", "phrase", id_col).agg(
        F.count(F.lit(1)).alias("n_hits")
    )


def hard_negatives(
    docs: DataFrame,
    k_neg: int = 5,
    pool: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: per
    query, take the BM25 TOP-1 hit as the positive, then return the
    ``k_neg`` highest-scoring pool documents from a DIFFERENT
    ``group_col`` as hard negatives — lexically close enough to be
    hard, provenance-separated enough to suppress false negatives
    (the same-source filter is the standard near-duplicate guard;
    swap in a near-dup screen or a labeled qrels table in
    production, everything downstream is unchanged). This is the
    mining loop behind every dual-encoder training set (DPR/ANCE
    style) — high-ranked non-relevant documents teach the margin
    that random negatives can't.

    Scale shape: rides ``bm25_topk``'s pooled candidates (top
    ``pool + 1`` per query — already pruned per partition), one
    broadcastable join to the per-doc group column, and a window over
    queries × pool rows. No new corpus-sized work beyond the BM25
    pass itself.

    Returns (query_id, pos_doc_id, doc_id, score, neg_rank),
    neg_rank 1..k_neg per query by (score desc, doc_id asc)."""
    hits = bm25_topk(docs, k=pool + 1, text_col=text_col, id_col=id_col)
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(group_col).alias("_grp")
    )
    pos = (
        hits.filter(F.col("rank") == 1)
        .join(src, "doc_id")
        .select(
            "query_id",
            F.col("doc_id").alias("pos_doc_id"),
            F.col("_grp").alias("_pos_grp"),
        )
    )
    cand = (
        hits.filter(F.col("rank") > 1)
        .join(src, "doc_id")
        .join(F.broadcast(pos), "query_id")
        .filter(F.col("_grp") != F.col("_pos_grp"))
        .select("query_id", "pos_doc_id", "doc_id", "score")
    )
    return top_k(cand, "query_id", _by_score(), k_neg, "neg_rank").select(
        "query_id", "pos_doc_id", "doc_id", "score", "neg_rank"
    )


# MMR objective text shared with oracle.mmr_rerank_sql — identical
# double arithmetic in both engines (rel and msim are already
# deterministic: a windowed max-division and 6-dp-rounded cosines).
MMR_EXPR = "0.5 * rel - 0.5 * msim"


def mmr_rerank(
    docs: DataFrame,
    emb: DataFrame,
    n_select: int = 5,
    pool: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein
    1998) of the BM25 pool: greedily pick the candidate maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked (λ=0.5) —
    the diversification pass every RAG retrieval stack ships so the
    context window doesn't fill with near-duplicates of the top hit.
    Relevance is the per-query max-normalized BM25 score; redundancy
    is embedding cosine against the picked set.

    Spark shape: each greedy round joins the remaining pool (≤ pool
    rows/query) to the picked set (≤ n_select rows/query), takes a
    per-candidate max-sim groupBy and one window argmax — queries ×
    pool × n_select work total, independent of corpus size (the
    corpus was already reduced by BM25's top-k). The pool
    is ONE state frame whose nullable ``pick`` marks the picked rows,
    checkpointed per round through ``session.iterate``: a round
    references the state ~3 times, so an un-truncated chain
    re-ANALYZES the whole BM25 subtree 3^rounds times (the CC-loop
    lesson; measured 300 s of pure Catalyst analysis at sf0.001 with
    lazy persists, ~8 s checkpointed). All ranking ties break
    (objective desc, doc_id asc), so picks are deterministic and the
    DuckDB twin replays the greedy walk as unrolled CTEs.

    Returns (query_id, doc_id, rel, pick), pick 1..n_select in
    selection order, rel 6-dp-rounded."""
    hits = bm25_topk(docs, k=pool, text_col=text_col, id_col=id_col)
    ev = emb.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("v")
    )
    wq = Window.partitionBy("query_id")
    cand = (
        hits.join(ev, "doc_id")
        .withColumn("rel", F.col("score") / F.max("score").over(wq))
        .select(
            "query_id", "doc_id", "rel", "v",
            F.when(F.col("rank") == 1, F.lit(1)).alias("pick"),
        )
    )
    wpick = Window.partitionBy("query_id").orderBy(
        F.expr(MMR_EXPR).desc(), F.col("doc_id").asc()
    )

    def pick_next(pool: DataFrame, i: int, seen) -> DataFrame:
        sel = pool.filter(F.col("pick").isNotNull())
        rem = pool.filter(F.col("pick").isNull()).drop("pick")
        # _n: how many picked rows a candidate was compared with; none
        # when its query's rank-1 hit has no embedding (no pick ever)
        msim = (
            rem.alias("c")
            .join(sel.alias("s"), "query_id")
            .select(
                "query_id",
                F.col("c.doc_id").alias("doc_id"),
                F.round(
                    vectors.cosine(F.col("c.v"), F.col("s.v")), 6
                ).alias("sim"),
            )
            .groupBy("query_id", "doc_id")
            .agg(F.max("sim").alias("msim"), F.count(F.lit(1)).alias("_n"))
        )
        first = (F.row_number().over(wpick) == 1) & F.col("_n").isNotNull()
        return sel.unionByName(
            rem.join(msim, ["query_id", "doc_id"], "left").select(
                *rem.columns, F.when(first, F.lit(i + 2)).alias("pick")
            )
        )

    pool, _, _ = iterate(cand.localCheckpoint(), pick_next, n_select - 1)
    return (
        pool.filter(F.col("pick").isNotNull())
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("rel"), 6).alias("rel"),
            F.col("pick").cast("int").alias("pick"),
        )
        .orderBy("query_id", "pick")
    )


# nDCG gain/discount text shared with oracle.ndcg_sql — exact powers
# of two for the integer grades, the codebase's proven log2 parity.
NDCG_TERM = (
    "(pow(CAST(2.0 AS DOUBLE), CAST(g AS DOUBLE)) - CAST(1.0 AS DOUBLE))"
    " / log2(CAST({r} AS DOUBLE) + CAST(1.0 AS DOUBLE))"
)


def ndcg_at_k(
    docs: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """nDCG@k of the BM25 ranking — THE graded ranking-quality metric
    (Järvelin & Kekäläinen 2002): DCG sums (2^rel − 1)/log2(rank + 1)
    over the retrieved list; nDCG divides by the ideal (re-sorted)
    DCG of the same list. Relevance here is the deterministic
    TERM-COVERAGE grade (how many distinct query terms the document
    contains, 0..terms_per_query) — a labeled qrels table swaps in
    for production evaluation, everything downstream unchanged. With
    score_auc (classification) and calibration_bins (probability),
    this completes the model-evaluation readouts: this one scores
    RANKINGS.

    Scale shape: rides bm25_topk (partition-pruned top-k); grades are one
    distinct-postings join against the broadcast query terms; DCG and
    ideal-DCG are windows over queries × k rows with the per-position
    terms 12-dp rounded and summed through DECIMAL(26,12)
    (order-independent across engines).

    Returns (query_id, dcg, idcg, ndcg), 6-dp rounded."""
    hits = bm25_topk(docs, k=k, text_col=text_col, id_col=id_col)
    tk = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(texttools.tokens(F.col(text_col))).alias("token"),
    )
    qt = derived_query_terms(tk.select(F.col("doc_id").alias(id_col), "token"))
    grades = (
        tk.select("doc_id", "token")
        .distinct()
        .join(F.broadcast(qt), "token")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("g"))
    )
    scored = hits.join(grades, ["query_id", "doc_id"], "left").select(
        "query_id",
        "doc_id",
        "rank",
        F.coalesce(F.col("g"), F.lit(0)).alias("g"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("g").desc(), F.col("doc_id").asc()
    )
    terms = scored.withColumn("irank", F.row_number().over(wq)).select(
        "query_id",
        F.expr(
            f"CAST(round({NDCG_TERM.format(r='rank')}, 12)"
            " AS DECIMAL(26,12))"
        ).alias("dt"),
        F.expr(
            f"CAST(round({NDCG_TERM.format(r='irank')}, 12)"
            " AS DECIMAL(26,12))"
        ).alias("it"),
    )
    return (
        terms.groupBy("query_id")
        .agg(F.sum("dt").alias("ds"), F.sum("it").alias("is_"))
        .select(
            "query_id",
            F.expr("round(CAST(ds AS DOUBLE), 6)").alias("dcg"),
            F.expr("round(CAST(is_ AS DOUBLE), 6)").alias("idcg"),
            F.expr(
                "round(CAST(ds AS DOUBLE)"
                " / nullif(CAST(is_ AS DOUBLE), 0.0), 6)"
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )


def mrr_at_k(
    docs: DataFrame,
    k: int = 10,
    rel_grade: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MRR@k and hit-rate@k of the BM25 ranking — the binary-relevance
    companions to ``ndcg_at_k`` (Voorhees 1999 TREC QA): reciprocal
    rank of the FIRST relevant hit (term-coverage grade >=
    ``rel_grade``, i.e. full query coverage at the default), 0 when
    nothing relevant lands in the top k. Together with nDCG (graded)
    this covers both evaluation regimes production search teams
    report.

    Scale shape: identical to ``ndcg_at_k`` — rides
    ``bm25_topk``, one distinct-postings join against the broadcast
    query terms, then a per-query min over queries × k rows.

    Returns (query_id, first_rel_rank, rr, hit): first_rel_rank NULL
    and rr 0.0 when the top k holds no relevant document."""
    hits = bm25_topk(docs, k=k, text_col=text_col, id_col=id_col)
    # same deterministic term-coverage grading as ndcg_at_k (a labeled
    # qrels table swaps in downstream-unchanged)
    tk = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(texttools.tokens(F.col(text_col))).alias("token"),
    )
    qt = derived_query_terms(tk.select(F.col("doc_id").alias(id_col), "token"))
    grades = (
        tk.select("doc_id", "token")
        .distinct()
        .join(F.broadcast(qt), "token")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("g"))
    )
    rel = (
        hits.join(grades, ["query_id", "doc_id"])
        .filter(F.col("g") >= rel_grade)
        .groupBy("query_id")
        .agg(F.min("rank").cast("bigint").alias("first_rel_rank"))
    )
    # the query universe comes from the TINY derived-terms frame, not
    # from hits — re-deriving it from hits would re-execute the whole
    # unpersisted bm25 subtree a second time (22 -> 13 shuffles)
    return (
        qt.select("query_id")
        .distinct()
        .join(rel, "query_id", "left")
        .select(
            "query_id",
            "first_rel_rank",
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.col("first_rel_rank").cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("rr"),
            F.col("first_rel_rank").isNotNull().alias("hit"),
        )
        .orderBy("query_id")
    )


def rm3_topk(
    docs: DataFrame,
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 3,
    alpha: str = "0.4",
    k1: str = "1.2",
    b: str = "0.75",
    n_queries: int = 5,
    terms_per_query: int = 2,
    vocab_rank_start: int = 11,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 + RM3 pseudo-relevance feedback (Lavrenko & Croft 2001
    relevance models; Abdul-Jaleel et al. 2004 RM3): run BM25 once,
    treat the top ``fb_docs`` per query as pseudo-relevant, mine the
    ``fb_terms`` highest-weight expansion terms under the RM1 estimate
    w(t|q) = Σ_d (tf_td / dl_d) · score_d over the feedback docs, and
    re-score with the expanded query — original terms at weight 1.0,
    expansion terms at ``alpha``. The classic recall-boosting second
    pass every lexical retrieval stack ships.

    Scale shape: the postings build (tokenize + explode) persists once
    and feeds BOTH passes; each pass is the ``bm25_topk`` shape — the
    per-term table broadcasts (query-terms-sized, model parameters),
    document-frequency rows are semi-join-pruned to the query terms
    BEFORE broadcasting, and both top-k rankings keep k rows per
    query in each partition before their one exchange. Expansion
    mining touches only feedback-doc postings (queries × fb_docs docs)
    and ranks a per-query candidate set bounded by those docs' vocab.

    Determinism: pass-1 ranks on 6-dp scores with doc-id tie-break;
    RM1 weights walk the 12-dp/DECIMAL ladder and expansion selection
    orders by (weight desc, token asc); pass-2 re-uses the shared
    BM25 formula text with the per-term weight applied before the
    12-dp round — the DuckDB twin replays every stage.

    Returns (query_id, doc_id, score, rank), rank 1..k per query."""
    token = F.explode(texttools.tokens(F.col(text_col))).alias("token")
    tk = pin_for_query(docs.select(F.col(id_col), token))
    tf = tk.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = tk.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    dfreq = (
        tk.select(id_col, "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    qterms = derived_query_terms(
        tk, n_queries, terms_per_query, vocab_rank_start
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n")).scalar().cast("double")
    sum_dl = dl.agg(F.sum("dl").alias("s")).scalar().cast("double")

    def _score(term_table, weighted: bool):
        dfq = dfreq.join(
            F.broadcast(term_table.select("token").distinct()),
            "token",
            "left_semi",
        )
        cand = (
            tf.join(F.broadcast(term_table), "token")
            .join(dl, id_col)
            .select(
                "query_id",
                F.col(id_col).alias("doc_id"),
                F.col("tf").cast("double").alias("tf"),
                F.col("dl").cast("double").alias("dl"),
                "token",
                *(["w"] if weighted else []),
            )
            .join(F.broadcast(dfq), "token")
            .withColumn("df", F.col("df").cast("double"))
            .withColumn("n_docs", n_docs)
            .withColumn("avgdl", sum_dl / n_docs)
        )
        ts = F.expr(BM25_TERM_FORMULA.format(k1=k1, b=b))
        if weighted:
            ts = F.col("w") * ts
        return (
            cand.select(
                "query_id",
                "doc_id",
                F.round(ts, 12).cast("decimal(26,12)").alias("ts"),
            )
            .groupBy("query_id", "doc_id")
            .agg(F.round(F.sum("ts").cast("double"), 6).alias("score"))
        )

    fb = _doc_topk(_score(qterms, weighted=False), fb_docs)
    expc = (
        tf.join(
            fb.select("query_id", F.col("doc_id").alias(id_col), "score"),
            id_col,
        )
        .join(dl, id_col)
        .select(
            "query_id",
            "token",
            F.round(
                F.col("tf").cast("double")
                / F.col("dl").cast("double")
                * F.col("score"),
                12,
            )
            .cast("decimal(26,12)")
            .alias("t"),
        )
        .groupBy("query_id", "token")
        .agg(F.round(F.sum("t").cast("double"), 6).alias("rm_w"))
        .join(qterms, ["query_id", "token"], "left_anti")
    )
    by_rm_w = [F.col("rm_w").desc(), F.col("token").asc()]
    exp_terms = top_k(expc, "query_id", by_rm_w, fb_terms, "_r").select(
        "query_id", "token", F.expr(f"CAST({alpha} AS DOUBLE)").alias("w")
    )
    allterms = qterms.select(
        "query_id", "token", F.lit(1.0).alias("w")
    ).unionByName(exp_terms)
    return _doc_topk(_score(allterms, weighted=True), k)


def rbo_overlap(
    run_a: DataFrame, run_b: DataFrame, k: int = 10, p: float = 0.9
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010) between two
    top-k rankings per query — the rank-SENSITIVE companion to the
    recall harness: recall@k only says whether the approximate index
    found the true neighbours; RBO@k scores whether it put them in the
    right ORDER, with geometrically decaying weight on deeper ranks
    (p = persistence; 0.9 ≈ the paper's "top-10 dominates" setting).

        RBO@k = (1-p) · Σ_{d=1..k} p^(d-1) · |A_d ∩ B_d| / d

    A common doc with ranks (ra, rb) is inside both depth-d prefixes
    for every d >= max(ra, rb), so its total contribution is
    W(m) = (1-p) · Σ_{d=m..k} p^(d-1)/d with m = max(ra, rb) — a
    k-entry BUILD-TIME literal table. The whole measure is therefore
    ONE equi-join on (query_id, vec_id) + a groupBy: no per-depth
    explode, no window, no shuffle beyond the k·|queries|-row join —
    at 100 TB the runs are top-k-sized (bounded by construction), so
    this is model-parameter-scale work regardless of corpus size.

    Cross-engine determinism: W values are driver-computed doubles
    embedded as literals in BOTH engines (repr round-trips exactly),
    each term is truncated to 12 dp and summed in DECIMAL(32,12)
    (order-free), rounded to 6 dp once at the end.

    The truncated sum maxes out at 1-p^k (identical prefixes), so the
    result is NORMALIZED by that constant — rbo = 1 iff the two
    prefixes agree exactly at every depth, the usual RBO@k reading.
    That constant is only the max for EXACT-k runs, so the plan
    ENFORCES the precondition with an in-plan ``raise_error`` guard
    (r11 advice): a per-query run shorter than k would silently
    under-normalize — fail loudly instead (the msprt_stream
    non-negativity pattern). A query absent from run_b entirely is
    fine (disjoint prefixes, rbo 0).

    Inputs: (query_id, vec_id, rank) frames, rank 1-based, == k rows
    per query. Returns (query_id, n_common, rbo) — rbo in [0, 1]."""
    wts = [
        (1.0 - p) * sum(p ** (d - 1) / d for d in range(m, k + 1))
        for m in range(1, k + 1)
    ]
    warr = F.array(*[F.lit(float(x)) for x in wts])
    a = run_a.select(
        "query_id", "vec_id", F.col("rank").alias("_ra")
    )
    b = run_b.select(
        "query_id", "vec_id", F.col("rank").alias("_rb")
    )
    wt = F.element_at(warr, F.greatest("_ra", "_rb").cast("int"))
    t12 = F.floor(wt * F.lit(1e12)).cast("double") / F.lit(1e12)
    agg = (
        a.join(b, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(t12.cast("decimal(32,12)")).cast("double").alias("_s"),
        )
    )
    sz_a = run_a.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("_na")
    )
    sz_b = run_b.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("_nb")
    )
    run_ok = (F.col("_na") == k) & (
        F.coalesce(F.col("_nb"), F.lit(k)).cast("bigint") == k
    )
    rbo = F.round(
        F.coalesce(F.col("_s"), F.lit(0.0)) / F.lit(float(1.0 - p**k)),
        6,
    )
    return (
        sz_a.join(agg, "query_id", "left")
        .join(sz_b, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint").alias(
                "n_common"
            ),
            F.when(run_ok, rbo)
            .otherwise(
                F.expr(
                    "CAST(raise_error('rbo_overlap: a per-query run is"
                    " not exactly k rows — the 1-p^k normalization"
                    " would be wrong') AS DOUBLE)"
                )
            )
            .alias("rbo"),
        )
    )


def map_at_k(
    docs: DataFrame,
    k: int = 10,
    rel_grade: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MAP@k (mean average precision) of the BM25 ranking — the
    classic TREC order-sensitive binary-relevance summary completing
    the ranking-eval family (nDCG graded, MRR first-hit, AP the full
    precision-recall area): AP = Σ_{relevant i ≤ k} P@i / min(R, k),
    with R the query's corpus-wide relevant count (term-coverage
    grade >= ``rel_grade``, the same deterministic qrels as
    ndcg/mrr — a labeled table swaps in downstream-unchanged).

    Scale shape: identical to ``mrr_at_k`` — rides
    ``bm25_topk``, one distinct-postings join against the broadcast
    query terms; P@i = (relevant-so-far)/i comes from one window over
    queries × k rows, each term 12-dp rounded and summed through
    DECIMAL(26,12) (order-independent); R is one corpus-wide grade
    count per query (a |queries|-row frame).

    Returns (query_id, n_rel, ap): n_rel the corpus-wide relevant
    count, ap 6-dp (0.0 when nothing relevant exists)."""
    hits = bm25_topk(docs, k=k, text_col=text_col, id_col=id_col)
    tk = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(texttools.tokens(F.col(text_col))).alias("token"),
    )
    qt = derived_query_terms(tk.select(F.col("doc_id").alias(id_col), "token"))
    grades = (
        tk.select("doc_id", "token")
        .distinct()
        .join(F.broadcast(qt), "token")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("g"))
    )
    rel_hits = hits.join(grades, ["query_id", "doc_id"]).filter(
        F.col("g") >= rel_grade
    )
    terms = rel_hits.select(
        "query_id",
        F.expr(
            "CAST(round(CAST(row_number() OVER"
            " (PARTITION BY query_id ORDER BY rank)"
            " AS DOUBLE) / CAST(rank AS DOUBLE), 12) AS DECIMAL(26,12))"
        ).alias("p_at_i"),
    )
    ap_sum = terms.groupBy("query_id").agg(F.sum("p_at_i").alias("s"))
    n_rel = (
        grades.filter(F.col("g") >= rel_grade)
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rel"))
    )
    return (
        qt.select("query_id")
        .distinct()
        .join(n_rel, "query_id", "left")
        .join(ap_sum, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_rel", F.lit(0).cast("bigint")).alias("n_rel"),
            F.round(
                F.coalesce(
                    F.col("s").cast("double")
                    / F.least(F.col("n_rel"), F.lit(k)).cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("ap"),
        )
        .orderBy("query_id")
    )
