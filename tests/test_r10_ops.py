"""Round-10 operators: exact substring dedup (Lee et al. 2022
ExactSubstr re-expressed as sliding-window fingerprints + island
coalesce) and the staged-model equivalence of the telescoped ANN
queries. Value parity is the oracle gate's job; these pin the extent
semantics a hash match can't express — span maximality, boundary
clipping, same-doc repeats, the occ >= 2 cut — and the staging
bit-identity contract."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import dedup, similarity


def _extents(spark, rows, min_tokens=3):
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dedup.substr_dedup(df, min_tokens=min_tokens).collect()
    return sorted(
        (r.doc_id, r.start_tok, r.end_tok, r.span_tokens, r.max_occ)
        for r in out
    )


def test_substr_dedup_exact_span_extents(spark):
    # docs 1 and 2 share the 4-token run "the cat sat down"; with
    # L=3 the duplicated windows in doc 1 are positions 1 and 2 ->
    # one maximal island [1, 4] of 4 tokens; in doc 2 positions 0,1
    # -> island [0, 3].
    got = _extents(
        spark,
        [
            (1, "once the cat sat down quietly"),
            (2, "the cat sat down"),
        ],
    )
    assert got == [
        (1, 1, 4, 4, 2),
        (2, 0, 3, 4, 2),
    ]


def test_substr_dedup_no_duplicates_empty(spark):
    got = _extents(
        spark,
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
    )
    assert got == []


def test_substr_dedup_short_docs_produce_no_windows(spark):
    # fewer than L tokens -> no windows -> never reported, even when
    # the whole doc text repeats verbatim (a < L-token duplicate is
    # below the detection length by definition)
    got = _extents(spark, [(1, "tiny doc"), (2, "tiny doc")])
    assert got == []


def test_substr_dedup_same_doc_repeat_counts(spark):
    # the run repeats INSIDE one doc: occ counts occurrences, not
    # docs, so a self-repeat is still duplicated text (ExactSubstr
    # semantics: dedup within documents too)
    got = _extents(spark, [(1, "a b c x y z a b c")])
    assert got == [(1, 0, 2, 3, 2), (1, 6, 8, 3, 2)]


def test_substr_dedup_two_islands_not_bridged(spark):
    # two disjoint shared runs in one doc must stay two extents
    got = _extents(
        spark,
        [
            (1, "red fox one filler filler blue owl two"),
            (2, "red fox one"),
            (3, "blue owl two"),
        ],
    )
    assert (1, 0, 2, 3, 2) in got and (1, 5, 7, 3, 2) in got
    assert len([g for g in got if g[0] == 1]) == 2


def test_substr_dedup_partition_invariant(spark):
    rows = [(i, f"common run of tokens here {i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = sorted(map(tuple, dedup.substr_dedup(df, 4).collect()))
    b = sorted(map(tuple, dedup.substr_dedup(df.repartition(7), 4).collect()))
    assert a == b and len(a) == 30


def test_substr_dedup_max_occ_is_corpus_wide(spark):
    # the same 3-token window in 4 docs -> max_occ 4 everywhere
    rows = [(i, "shared exact span") for i in range(1, 5)]
    got = _extents(spark, rows)
    assert got == [(i, 0, 2, 3, 4) for i in range(1, 5)]


# ------------------------------------------------ staged ANN models


@pytest.mark.slowtier
def test_residual_codebooks_injected_frame_matches_selfbuilt(spark):
    # the r10 regression fix: training from a caller-supplied residual
    # frame must be bit-identical to the standalone path that rebuilds
    # the coarse assignment from emb
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(200)
    )
    from banking_data_etl_pipeline_spark.operators import clustering

    cents = clustering.train_centroids(emb, k=4, iterations=1)
    standalone = similarity.train_residual_codebooks(emb, cents, m=2, codes=4)
    scorer = similarity._centroid_scorer(cents)
    corpus = similarity.assign_cells(
        emb, 4, "embedding", "vec_id", scorer=scorer
    )
    cmap = similarity._cent_map(cents)
    res = corpus.withColumn(
        "rvec",
        F.zip_with(
            F.col("v"), cmap[F.col("cell")], lambda a, b: a.cast("double") - b
        ),
    ).select("vec_id", F.col("rvec").alias("embedding"))
    injected = similarity.train_residual_codebooks(
        emb, cents, m=2, codes=4, res_frame=res
    )
    assert injected == standalone


@pytest.mark.slowtier
def test_ivf_pq_topk_staged_books_match_inplane_training(spark):
    # the telescoped query now injects staged cents/books; pinned here:
    # injection is result-identical to in-plan training (deterministic
    # walks, exact double round-trip)
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(200)
    )
    q = similarity.corpus_queries(emb, n=3)
    from banking_data_etl_pipeline_spark.operators import clustering

    cents = clustering.train_centroids(emb, k=4, iterations=2)
    books = similarity.pq_train_codebooks(emb, m=2, codes=4)
    res_books = similarity.train_residual_codebooks(emb, cents, m=2, codes=4)
    for kw in (
        dict(),
        dict(residual=True),
    ):
        told = similarity.ivf_pq_topk(
            emb, q, k=5, n_centroids=4, m=2, codes=4, **kw
        ).collect()
        staged = similarity.ivf_pq_topk(
            emb, q, k=5, n_centroids=4, m=2, codes=4, cents=cents,
            books=(res_books if kw.get("residual") else books), **kw
        ).collect()
        assert sorted(map(tuple, staged)) == sorted(map(tuple, told))
