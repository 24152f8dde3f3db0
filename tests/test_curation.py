"""Round-3 curation operators: deterministic sampling / dataset mixing,
vocabulary + TF-IDF extraction, PII redaction, stream-static join."""

from __future__ import annotations

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.functions import texttools
from banking_data_etl_pipeline_spark.operators import corpus, sampling
from banking_data_etl_pipeline_spark.sources import tables

from conftest import SF_DIR


def test_deterministic_sample_is_stable_and_close_to_rate(spark):
    df = spark.range(0, 4000).withColumnRenamed("id", "k")
    a = sampling.deterministic_sample(df, "k", 64)  # 25%
    n = a.count()
    # binomial(4000, .25): mean 1000, sd ~27 — very loose bounds
    assert 850 <= n <= 1150, n
    # identical membership on re-evaluation (no RNG state anywhere)
    assert a.count() == n
    ids = {r.k for r in a.collect()}
    assert ids == {r.k for r in sampling.deterministic_sample(df, "k", 64).collect()}
    # monotone: a higher rate strictly contains the lower-rate sample
    wider = {r.k for r in sampling.deterministic_sample(df, "k", 128).collect()}
    assert ids <= wider


def test_deterministic_sample_is_map_only(spark):
    df = spark.range(0, 100).withColumnRenamed("id", "k")
    plan = sampling.deterministic_sample(df, "k", 64)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_stratified_rates_apply_per_stratum(spark):
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "keep_all").otherwise("drop_all").alias("s"),
    )
    out = sampling.stratified_sample(
        df, key="k", stratum="s", rates={"keep_all": 256, "drop_all": 0}
    )
    got = {r.s for r in out.select("s").distinct().collect()}
    assert got == {"keep_all"}
    assert out.count() == 1000


def test_weighted_mix_tags_and_samples(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    mix = sampling.weighted_mix(
        [(df, "full", 256), (df, "half", 128)], key="k"
    )
    by_part = {r.mix_part: r.n for r in mix.groupBy("mix_part").agg(F.count("*").alias("n")).collect()}
    assert by_part["full"] == 1000
    assert 400 <= by_part["half"] <= 600


def test_vocab_topn_counts_and_order(spark):
    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "b z")], "doc_id long, text string"
    )
    rows = corpus.vocab_topn(docs, n=3).collect()
    assert [(r.token, r.n) for r in rows] == [("a", 3), ("b", 3), ("c", 1)]


def test_tfidf_ranks_distinctive_terms_first(spark):
    # 'rare' appears only in doc 1; 'common' is in every doc — the
    # distinctive term must outrank the ubiquitous one (whose idf is 0)
    docs = spark.createDataFrame(
        [
            (1, "common rare rare"),
            (2, "common common other"),
            (3, "common other other"),
        ],
        "doc_id long, text string",
    )
    out = corpus.tfidf_top_terms(docs, top=1).collect()
    top1 = {r.doc_id: r.term for r in out}
    assert top1[1] == "rare"
    common = [
        r for r in corpus.tfidf_top_terms(docs, top=3).collect() if r.term == "common"
    ]
    assert all(r.tfidf == 0.0 for r in common)


def test_redact_pii_masks_emails_and_phones(spark):
    df = spark.createDataFrame(
        [
            ("mail me at First.Last+tag@sub.example.co.uk today",),
            ("call 415-555-0199 or 415.555.0199 now",),
            ("no pii here",),
        ],
        "t string",
    )
    got = [r.c for r in df.select(texttools.redact_pii(F.col("t")).alias("c")).collect()]
    assert got[0] == "mail me at <EMAIL> today"
    assert got[1] == "call <PHONE> or <PHONE> now"
    assert got[2] == "no pii here"


def test_stream_static_join_equals_batch(spark):
    import os
    import tempfile

    from banking_data_etl_pipeline_spark.streaming import events as EV

    ev = tables.load(spark, SF_DIR, "events")
    cust = tables.load(spark, SF_DIR, "customer")
    batch = {
        r.c_mktsegment: (r.n_events, r.sum_value)
        for r in ev.join(cust, ev["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .collect()
    }
    d = tempfile.mkdtemp(prefix="test_stream_static_")
    os.symlink(
        os.path.join(SF_DIR, "events.parquet"), os.path.join(d, "events.parquet")
    )
    got = {
        r.c_mktsegment: (r.n_events, r.sum_value)
        for r in EV.stream_static_join(spark, d, cust).collect()
    }
    assert got == batch


def test_seq_pack_chunks_token_stream(spark):
    # 3-token docs, budget 4: token starts 0,3,6,9 -> packs 0,0,1,2
    from banking_data_etl_pipeline_spark.operators import packing

    docs = spark.createDataFrame(
        [(i, "a b c", "en") for i in range(4)], "doc_id long, text string, lang string"
    )
    out = packing.pack_documents(docs, budget=4).orderBy("pack_id").collect()
    assert [(r.pack_id, r.n_docs, r.pack_tokens) for r in out] == [
        (0, 2, 6),
        (1, 1, 3),
        (2, 1, 3),
    ]
    # straddling pack 0 holds docs 0-1, first/last manifest correct
    assert (out[0].first_doc, out[0].last_doc) == (0, 1)


def test_seq_pack_shards_are_independent(spark):
    # same docs in two shards -> identical per-shard pack layout, and
    # the plan never funnels through a single partition (the window is
    # shard-partitioned, not global)
    from banking_data_etl_pipeline_spark.operators import packing

    docs = spark.createDataFrame(
        [(i, "a b", lang) for lang in ("en", "de") for i in range(6)],
        "doc_id long, text string, lang string",
    )
    df = packing.pack_documents(docs, budget=5)
    per_shard = {
        lang: sorted(
            (r.pack_id, r.n_docs, r.pack_tokens)
            for r in df.filter(F.col("lang") == lang).collect()
        )
        for lang in ("en", "de")
    }
    assert per_shard["en"] == per_shard["de"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_contamination_flags_only_overlapping_corpus_docs(spark):
    from banking_data_etl_pipeline_spark.operators import contamination

    rows = [
        (0, "alpha beta gamma delta"),      # benchmark (0 % 7 == 0)
        (1, "alpha beta gamma epsilon"),    # shares only "alpha beta gamma"
        (2, "zeta eta theta iota"),         # clean
        (7, "unrelated benchmark text here"),  # benchmark too
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.n_shared
        for r in contamination.benchmark_overlap(docs, n=3, bench_mod=7).collect()
    }
    assert out == {1: 1}  # only doc 1, exactly one shared shingle


def test_contamination_broadcasts_benchmark_side(spark):
    from banking_data_etl_pipeline_spark.operators import contamination

    docs = tables.load(spark, SF_DIR, "documents")
    plan = (
        contamination.benchmark_overlap(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_snapshot_diff_classifies_all_ops(spark):
    from banking_data_etl_pipeline_spark.operators import cdc

    cur = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None)], "k long, v double"
    )
    nxt = spark.createDataFrame(
        [(1, 10.0), (2, 25.0), (4, 40.0)], "k long, v double"
    )
    out = {r.k: r.op for r in cdc.snapshot_diff(cur, nxt, "k", ["v"]).collect()}
    # 3 had a NULL tracked value and is absent from nxt -> delete (the
    # constant presence markers keep nulls from looking like absence)
    assert out == {1: "unchanged", 2: "update", 3: "delete", 4: "insert"}


def test_snapshot_diff_null_to_value_is_update(spark):
    from banking_data_etl_pipeline_spark.operators import cdc

    cur = spark.createDataFrame([(1, None)], "k long, v double")
    nxt = spark.createDataFrame([(1, 1.0)], "k long, v double")
    [r] = cdc.snapshot_diff(cur, nxt, "k", ["v"]).collect()
    assert r.op == "update"


def test_fuzzy_pairs_block_and_threshold(spark):
    from banking_data_etl_pipeline_spark.operators import fuzzy

    df = spark.createDataFrame(
        [
            (1, "red widget"),
            (2, "red widgets"),   # dist 1 from #1, same block
            (3, "red gizmo"),     # dist > 3 from both
            (4, "blue widget"),   # different block: never compared
            (5, "red widget"),    # dist 0 from #1: excluded by min_dist
        ],
        "id long, name string",
    )
    got = {
        (r.id_a, r.id_b): r.edit_dist
        for r in fuzzy.fuzzy_name_pairs(df, "id", "name").collect()
    }
    assert got == {(1, 2): 1, (2, 5): 1}


def test_fuzzy_hot_blocks_are_dropped(spark):
    from banking_data_etl_pipeline_spark.operators import fuzzy

    df = spark.createDataFrame(
        [(i, f"hot name{i % 3}") for i in range(50)] + [(100, "cold name"), (101, "cold namez")],
        "id long, name string",
    )
    out = fuzzy.fuzzy_name_pairs(df, "id", "name", max_block=10).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(100, 101)}


def test_split_manifest_partitions_every_doc_exactly_once(spark):
    from banking_data_etl_pipeline_spark import queries as Q

    out = Q.split_manifest(spark, SF_DIR)
    total = sum(r.n_docs for r in out.collect())
    assert total == tables.load(spark, SF_DIR, "documents").count()
    splits = {r.split for r in out.collect()}
    assert splits == {"train", "val", "test"}
    # deterministic: identical on re-evaluation
    a = {(r.lang, r.split): r.n_docs for r in out.collect()}
    b = {(r.lang, r.split): r.n_docs for r in Q.split_manifest(spark, SF_DIR).collect()}
    assert a == b


def test_dim_stats_bounds_and_mean(spark):
    from banking_data_etl_pipeline_spark.functions import vectors

    emb = spark.createDataFrame(
        [(1, [1.0, -2.0]), (2, [3.0, 4.0])], "vec_id long, embedding array<float>"
    )
    got = {r.dim: r for r in vectors.dim_stats(emb).collect()}
    assert (got[0].min_x, got[0].max_x, got[0].mean_x, got[0].n) == (1.0, 3.0, 2.0, 2)
    assert (got[1].min_x, got[1].max_x, got[1].mean_x, got[1].n) == (-2.0, 4.0, 1.0, 2)


def test_unigram_xent_hand_checked(spark):
    import math
    from banking_data_etl_pipeline_spark.operators import corpus

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    # corpus: a=2, b=2, c=1, N=5
    out = {r.doc_id: r for r in corpus.unigram_xent(docs).collect()}
    pa = round(-math.log(2 / 5), 12)
    pc = round(-math.log(1 / 5), 12)
    assert out[1].n_tok == 3
    assert out[1].xent == round((2 * pa + pa) / 3, 6)  # a,a,b share -ln(2/5)
    assert out[2].n_tok == 2
    assert out[2].xent == round((pa + pc) / 2, 6)
    # rarer tokens -> strictly higher cross-entropy
    assert out[2].xent > out[1].xent


def test_unigram_xent_kept_cut_is_on_rounded_value(spark):
    from banking_data_etl_pipeline_spark.operators import corpus

    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x x x x")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in corpus.unigram_xent(docs, keep_below=0.6).collect()}
    # doc 2 is all-common tokens: -ln(4/6)=0.405 -> kept; doc 1 mixes
    # the rare y: ( -ln(4/6) + -ln(2/6) )/2 = 0.752 -> dropped
    assert out[2].kept is True
    assert out[1].kept is False


def test_curation_pipeline_stage_partition(spark):
    """Every doc appears exactly once; stages partition the corpus
    consistently with the flags; kept <=> a train/val/test split; a
    duplicate's keeper is a lower-id doc with identical text that
    passed quality."""
    from banking_data_etl_pipeline_spark.operators import corpus

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it was happy for a while"),
            (2, "the cat sat on the mat and it was happy for a while"),
            (5, "the dog sat by the door and it was glad all day long"),
            (9, "!!! ??? ;;; ###"),  # punctuation soup -> rejected
            (12, "!!! ??? ;;; ###"),  # also rejected (never 'duplicate')
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in corpus.curation_pipeline(docs).collect()}
    assert set(out) == {1, 2, 5, 9, 12}
    assert out[9].stage == "rejected_quality" and not out[9].q_pass
    assert out[12].stage == "rejected_quality"  # rejection wins over dup
    assert out[2].stage == "duplicate" and not out[2].kept
    assert out[1].kept and out[1].stage in ("train", "val", "test")
    assert out[5].kept and out[5].stage in ("train", "val", "test")
    for r in out.values():
        assert r.kept == (r.stage in ("train", "val", "test"))


def test_xent_buckets_are_balanced_and_ordered(spark):
    """Per language: tercile sizes differ by at most 1 (ntile
    contract) and every head doc scores <= every tail doc."""
    from banking_data_etl_pipeline_spark.operators import corpus

    docs = tables.load(spark, SF_DIR, "documents")
    rows = corpus.xent_buckets(docs).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    assert len(by_lang) >= 2
    for lang, rs in by_lang.items():
        sizes = {b: sum(1 for r in rs if r.bucket == b)
                 for b in ("head", "middle", "tail")}
        assert max(sizes.values()) - min(sizes.values()) <= 1, (lang, sizes)
        head_max = max(r.xent for r in rs if r.bucket == "head")
        tail_min = min(r.xent for r in rs if r.bucket == "tail")
        assert head_max <= tail_min, (lang, head_max, tail_min)
        assert {r.bucket_idx for r in rs} == {1, 2, 3}


def test_dsir_logratio_hand_checked(spark):
    import math
    from banking_data_etl_pipeline_spark.operators import corpus

    docs = spark.createDataFrame(
        [(1, "a b", "en"), (2, "a c", "de")],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in corpus.dsir_logratio(docs).collect()}
    # vocab: a(all=2,tgt=1) b(1,1) c(1,0); V=3, N_all=4, N_tgt=2
    def lr(ct, ca):
        return round(math.log((ct + 1) / (2 + 3)) - math.log((ca + 1) / (4 + 3)), 12)

    exp1 = round((lr(1, 2) + lr(1, 1)) / 2, 6)   # a, b
    exp2 = round((lr(1, 2) + lr(0, 1)) / 2, 6)   # a, c
    assert out[1].logratio == exp1 and out[1].target_like is (exp1 > 0)
    assert out[2].logratio == exp2 and out[2].target_like is (exp2 > 0)
    # the all-target-token doc must score above the doc with a
    # target-unseen token
    assert out[1].logratio > out[2].logratio


def test_quality_ensemble_reasons_first_match_wins(spark):
    from banking_data_etl_pipeline_spark.operators import corpus

    base = "the of and to in is it for on as " * 4  # 40 common tokens
    docs = spark.createDataFrame(
        [
            (1, base),                         # long, common tokens -> pass-ish
            (2, "tiny doc"),                   # -> too_short
            (3, "ab ab " * 20),                # repeated bigram, but too_short
                                               #   rule must NOT fire (40 toks)
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in corpus.quality_ensemble(docs).collect()}
    assert out[2].reason == "too_short" and out[2].kept is False
    # doc 3 is long enough, so the repetition rule is the first to fire
    # (its single repeated bigram occupies ~100% of bigrams)
    assert out[3].reason in ("low_quality", "bigram_repetition")
    assert out[3].kept is False
    assert set(out) == {1, 2, 3}
    for r in out.values():
        assert (r.reason == "pass") == r.kept


def test_shuffle_shard_is_a_deterministic_permutation(spark):
    from pyspark.sql import functions as F

    from banking_data_etl_pipeline_spark.operators import sampling

    docs = tables.load(spark, SF_DIR, "documents")
    n = docs.count()
    a = sampling.shuffle_shard(docs, key="doc_id")
    # a permutation: every doc exactly once, shards within range
    assert a.count() == n
    assert a.select("doc_id").distinct().count() == n
    mm = a.agg(
        F.min("shard").alias("lo"), F.max("shard").alias("hi")
    ).first()
    assert 0 <= mm.lo and mm.hi <= 15
    # positions are dense 1..len per shard
    per = a.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("pos").alias("p1"),
        F.max("pos").alias("pn"),
    )
    for r in per.collect():
        assert (r.p1, r.pn) == (1, r.n)
    # deterministic across invocations; a new seed re-shuffles
    b = sampling.shuffle_shard(docs, key="doc_id")
    assert a.exceptAll(b).count() == 0
    c = sampling.shuffle_shard(docs, key="doc_id", seed="other")
    assert c.exceptAll(a).count() > 0


def test_shuffle_shard_non_divisor_counts_are_balanced(spark):
    """n_shards=10 doesn't divide 16: with the one-hex-digit fold the
    low shards got DOUBLE weight; the two-digit (256-bucket) fold keeps
    the imbalance at the 256%n remainder (~4%), so no shard should be
    anywhere near 2x another."""
    from pyspark.sql import functions as F

    from banking_data_etl_pipeline_spark.operators import sampling

    # 20k synthetic keys: binomial noise (sd ~42 per shard of ~2000) is
    # small next to the old failure mode (low shards at 2x weight), so
    # a 15% ratio bound separates them deterministically
    n = 20000
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    per = {
        r.shard: r.n
        for r in sampling.shuffle_shard(docs, key="doc_id", n_shards=10)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(per) == set(range(10))
    lo, hi = min(per.values()), max(per.values())
    assert hi < 1.15 * lo, per
    assert sum(per.values()) == n


def test_bigram_pmi_hand_computed(spark):
    import math

    from banking_data_etl_pipeline_spark.operators import corpus as C

    # "a b" appears 6x, tokens: a:6 b:6 c:3 => N=15, bigrams per doc:
    # doc "a b c" has [a b, b c]; 3 docs of "a b" alone add [a b] each
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b c"),
         (4, "a b"), (5, "a b"), (6, "a b")],
        "doc_id long, text string",
    )
    out = {r.bigram: r for r in C.bigram_pmi(docs, min_count=3).collect()}
    n_tok, n_big = 15.0, 9.0
    ab = out["a b"]
    assert (ab.cnt, ab.c_left, ab.c_right) == (6, 6, 6)
    want = round(math.log((6 * n_tok * n_tok) / (n_big * 6 * 6)), 6)
    assert abs(ab.pmi - want) < 1e-9
    bc = out["b c"]
    assert (bc.cnt, bc.c_left, bc.c_right) == (3, 6, 3)


def test_source_divergence_hand_worked(spark):
    """KL on a 2-source toy corpus matches the closed form (add-one
    smoothing over the global vocab), is asymmetric, and identical
    distributions give exactly 0."""
    import math

    from banking_data_etl_pipeline_spark.operators import corpus

    docs = spark.createDataFrame(
        [(1, "a a b", "s1"), (2, "a b b b", "s2"), (3, "a a b", "s3")],
        "doc_id long, text string, source string",
    )
    out = {
        (r.src_a, r.src_b): r.kl
        for r in corpus.source_divergence(docs).collect()
    }
    assert len(out) == 6
    # s1: a=2,b=1 tot=3; s2: a=1,b=3 tot=4; V=2
    pa1, pb1 = 3 / 5, 2 / 5
    pa2, pb2 = 2 / 6, 4 / 6
    want12 = round(
        round(pa1 * math.log(pa1 / pa2), 12) + round(pb1 * math.log(pb1 / pb2), 12),
        6,
    )
    want21 = round(
        round(pa2 * math.log(pa2 / pa1), 12) + round(pb2 * math.log(pb2 / pb1), 12),
        6,
    )
    assert out[("s1", "s2")] == want12
    assert out[("s2", "s1")] == want21
    assert want12 != want21  # KL is asymmetric
    assert out[("s1", "s3")] == 0.0 and out[("s3", "s1")] == 0.0
    assert all(v >= 0 for v in out.values())


def test_temperature_weights_alpha1_recovers_share(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    out = sampling.temperature_weights(docs, alpha=1.0).collect()
    assert abs(sum(r.weight for r in out) - 1.0) < 1e-4
    for r in out:
        assert abs(r.weight - r.p_raw) < 2e-6, (r.source, r.weight, r.p_raw)


def test_temperature_weights_upweights_low_resource(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    out = sampling.temperature_weights(docs, alpha=0.3).collect()
    assert abs(sum(r.weight for r in out) - 1.0) < 1e-4
    lo = min(out, key=lambda r: r.n_tokens)
    hi = max(out, key=lambda r: r.n_tokens)
    assert lo.weight > lo.p_raw  # small source pulled up
    assert hi.weight < hi.p_raw  # big source pulled down
    # epochs = weight * budget / tokens; r.weight is 6-dp rounded, so
    # the recomputation tolerance scales with budget / n_tokens
    for r in out:
        assert abs(r.epochs_at_budget - r.weight * 1_000_000 / r.n_tokens) < (
            1e-6 * 1_000_000 / r.n_tokens
        )


def test_oov_rate_against_tiny_vocab(spark):
    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "a z z z"), (3, "")],
        "doc_id long, text string",
    )
    # vocab_n=2 -> vocab = {a, z} (counts 4, 3); b is OOV
    out = {r.doc_id: r for r in corpus.oov_rate(docs, vocab_n=2).collect()}
    assert out[1].n_oov == 1 and abs(out[1].oov_frac - 0.25) < 1e-9
    assert out[2].n_oov == 0
    assert out[3].n_tokens == 0 and out[3].oov_frac == 0.0


def test_psi_drift_zero_on_identical_and_positive_on_shift(spark):
    from banking_data_etl_pipeline_spark.operators import expectations

    base = spark.range(0, 1000).select((F.col("id") % 100).alias("v"))
    same = expectations.psi_drift(base, base, "v").collect()
    assert abs(sum(r.psi_term for r in same)) < 1e-6
    shifted = base.select((F.col("v") + 80).alias("v"))
    drift = expectations.psi_drift(base, shifted, "v").collect()
    assert sum(r.psi_term for r in drift) > 0.25  # "shifted" per the rule
    # every input row lands in a bin on both sides
    assert sum(r.n_cur for r in drift) == 1000


def test_k_anonymity_flags_rare_combos(spark):
    from banking_data_etl_pipeline_spark.operators import expectations

    rows = [(i, "a", "x") for i in range(10)] + [(99, "b", "y")]
    df = spark.createDataFrame(rows, "id long, q1 string, q2 string")
    out = {(r.q1, r.q2): r for r in
           expectations.k_anonymity(df, ["q1", "q2"], k=5).collect()}
    assert not out[("a", "x")].at_risk and out[("a", "x")].n == 10
    assert out[("b", "y")].at_risk and out[("b", "y")].n == 1


def test_pretrain_export_stage_order(spark):
    # doc 1 and 2: identical text (dup) sharing no span with 3;
    # doc 3: long unique doc that shares an 8-gram with doc 4;
    # doc 5: low-quality junk that must not survive the gate
    span = "one two three four five six seven eight"
    good_pad = (
        "the and for are with this that from they have more will "
        "about when which their time would there what your just "
        "know people into than them can only other new some could"
    )
    rows = [
        (1, f"{good_pad} alpha"),
        (2, f"{good_pad} alpha"),          # exact dup of 1
        (3, f"{good_pad} {span} beta"),
        (4, f"{good_pad} {span} gamma"),
        (5, "x!!!! y!!!! z!!!!"),           # punct-heavy junk
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus.pretrain_export(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # dup keeps the lowest id; junk is gated out
    assert 2 not in by_doc and 5 not in by_doc
    assert set(by_doc) == {1, 3, 4}
    # the shared span was removed from BOTH 3 and 4 before chunking
    all_text = " ".join(r.chunk_text for rs in by_doc.values() for r in rs)
    assert "one two three four five six seven eight" not in all_text
    assert "beta" in all_text and "gamma" in all_text and "alpha" in all_text


def test_source_span_overlap_counts_cross_source_spans(spark):
    span = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, f"{span} filler a", "s1"),
            (2, f"intro {span} tail", "s2"),
            (3, "no shared content in this one at all ok then", "s1"),
            (4, f"{span} again here", "s1"),  # same source as doc 1
        ],
        "doc_id long, text string, source string",
    )
    out = {(r.src_a, r.src_b): r.n_shared_spans
           for r in corpus.source_span_overlap(docs).collect()}
    # the span bridges s1<->s2 exactly once; within-s1 repeats don't
    # create an (s1, s1) row
    assert out == {("s1", "s2"): 1}


def test_source_semantic_map_detects_aligned_sources(spark):
    rows_d = [(i, "t", "sa" if i < 4 else "sb") for i in range(8)]
    docs = spark.createDataFrame(rows_d, "doc_id long, text string, source string")
    # sa vectors along +x, sb along -x -> centroid cosine -1
    emb = spark.createDataFrame(
        [(i, [1.0 if i < 4 else -1.0, 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    [r] = corpus.source_semantic_map(docs, emb, dim=2).collect()
    assert (r.src_a, r.src_b) == ("sa", "sb")
    assert abs(r.cosine + 1.0) < 1e-9


def test_quality_autocut_drops_about_the_target_fraction(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    out = corpus.quality_autocut(docs, pct=0.25).collect()
    n = len(out)
    dropped = sum(1 for r in out if not r.kept)
    # exact quantile of a continuous-ish score: dropped ~ 25% (ties
    # and interpolation allow slack)
    assert 0.10 * n <= dropped <= 0.40 * n, dropped
    thr = {r.threshold for r in out}
    assert len(thr) == 1
    for r in out:
        assert r.kept == (r.q >= r.threshold)


def test_dataset_card_single_row_consistency(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    [r] = corpus.dataset_card(docs).collect()
    assert r.n_docs == docs.count()
    assert r.n_sources == 20 and r.n_langs >= 1
    assert 0.0 <= r.pct_english <= 1.0
    assert r.exact_dup_rate == 0.0  # synthetic corpus has no exact dups
    assert 0.0 < r.mean_quality <= 1.0
    assert r.p50_tokens > 0


def test_dataset_card_of_no_docs_is_neutral(spark):
    """Zero docs give one row of zero counts and NULL rates, as the
    DuckDB twin does, not an ANSI DIVIDE_BY_ZERO."""
    import duckdb

    from banking_data_etl_pipeline_spark import oracle

    docs = tables.load(spark, SF_DIR, "documents").limit(0)
    [r] = corpus.dataset_card(docs).collect()
    assert (r.n_docs, r.n_sources, r.n_langs) == (0, 0, 0)
    rates = (r.pct_english, r.exact_dup_rate, r.mean_quality, r.p50_tokens)
    assert rates == (None, None, None, None)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, source VARCHAR, text VARCHAR)")
    twin = con.execute(oracle.DATASET_CARD_Q).fetchone()
    assert twin[5:] == rates


def test_bigram_xent_penalizes_shuffled_word_order(spark):
    """The property that makes a bigram LM worth running over the
    unigram one: a doc and its token-shuffled twin have IDENTICAL
    unigram cross-entropy (same token multiset) but the shuffled twin
    scores strictly worse under the bigram model (its bigrams are
    rarer in the corpus)."""
    fluent = "the cat sat on the mat and " * 8
    shuffled = " ".join(
        sorted(fluent.split(), key=lambda w: (hash(w) % 7, w))
    )
    assert sorted(fluent.split()) == sorted(shuffled.split())
    rows = [
        (1, fluent),
        (2, shuffled),
        (3, "the cat sat on the mat and the cat sat again"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uni = {r.doc_id: r.xent for r in corpus.unigram_xent(docs).collect()}
    assert uni[1] == uni[2]

    bi = {r.doc_id: (r.n_bigrams, r.xent2) for r in corpus.bigram_xent(docs).collect()}
    assert set(bi) == {1, 2, 3, 4}
    assert bi[1][0] == bi[2][0]  # same bigram count
    assert bi[2][1] > bi[1][1], bi  # shuffled order scores worse
    assert bi[4] == (0, None)  # empty doc keeps its row, NULL score
    spark.catalog.clearCache()


def test_l_diversity_flags_homogeneous_combos(spark):
    """A k-safe combination whose rows all share one sensitive value
    must be at_risk (membership discloses the attribute); a diverse
    combination must not."""
    from banking_data_etl_pipeline_spark.operators import expectations

    rows = (
        [("a", "x", "yes")] * 6          # homogeneous: 6 rows, 1 value
        + [("a", "y", "yes"), ("a", "y", "no"), ("a", "y", "no")]
        + [("b", "x", "no")]             # rare AND homogeneous
    )
    df = spark.createDataFrame(rows, "q1 string, q2 string, s string")
    out = {
        (r.q1, r.q2): (r.n, r.n_sensitive, r.at_risk)
        for r in expectations.l_diversity(df, ["q1", "q2"], "s", l=2).collect()
    }
    assert out[("a", "x")] == (6, 1, True)
    assert out[("a", "y")] == (3, 2, False)
    assert out[("b", "x")] == (1, 1, True)


def test_dedup_recall_report_consistency(spark):
    """On a corpus with exact duplicates the MinHash screen must find
    every truth pair (MinHash of an identical shingle set is identical
    -> same band keys, est_jaccard 1.0), and the summary counts must
    be internally consistent."""
    from banking_data_etl_pipeline_spark.operators import dedup

    base = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta doc{i} "
            f"iota kappa lam{i} mu nu xi omicron pi rho")
        for i in range(8)
    ]
    dups = [(100 + i, t) for i, t in base[:3]]  # 3 exact duplicate pairs
    docs = spark.createDataFrame(base + dups, "doc_id long, text string")
    r = dedup.dedup_recall_report(docs).collect()[0]
    assert r.n_hit <= min(r.n_truth, r.n_est)
    assert r.n_truth >= 3  # the three exact-dup pairs are truth
    assert r.recall == 1.0, r  # identical docs can't be missed
    assert 0.0 <= r.precision <= 1.0
    spark.catalog.clearCache()


def test_split_leakage_catches_planted_cross_split_duplicate(spark):
    """Plant one exact duplicate whose two ids hash into different
    splits and assert the gate reports exactly that pair (and nothing
    for the same-split filler dups)."""
    import hashlib

    from banking_data_etl_pipeline_spark.operators import sampling

    def split_of(i: int) -> str:
        p = hashlib.md5(str(i).encode()).hexdigest()[:2]
        return "test" if p < "10" else ("val" if p < "20" else "train")

    ids = list(range(300))
    train_ids = [i for i in ids if split_of(i) == "train"]
    test_ids = [i for i in ids if split_of(i) == "test"]
    assert train_ids and test_ids
    dup_text = "one two three four five six seven eight nine ten eleven"
    rows = [(train_ids[0], dup_text), (test_ids[0], dup_text)]
    # same-split duplicate pair: must NOT appear in the report
    rows += [(train_ids[1], "aa bb cc dd ee ff gg hh ii jj kk"),
             (train_ids[2], "aa bb cc dd ee ff gg hh ii jj kk")]
    # distinct filler
    rows += [
        (train_ids[3 + j], f"filler{j} alpha{j} beta{j} gamma{j} delta{j} "
                           f"epsilon{j} zeta{j} eta{j} theta{j} iota{j}")
        for j in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.split_a, r.split_b): (r.n_pairs, r.n_full_match)
        for r in sampling.split_leakage(docs).collect()
    }
    assert out == {("test", "train"): (1, 1)}, out
    spark.catalog.clearCache()


def test_feature_hash_embed_norm_and_determinism(spark):
    """Hashing-trick vectors: per-doc L2 norm of the emitted sparse
    rows is 1 (within rounding), identical docs get identical rows,
    and empty docs emit nothing."""
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "zeta"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus.feature_hash_embed(docs).collect()
    by_doc: dict[int, dict[int, float]] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.dim] = r.val
    assert 4 not in by_doc
    assert by_doc[1] == by_doc[2]
    for d, vec in by_doc.items():
        norm2 = sum(v * v for v in vec.values())
        assert abs(norm2 - 1.0) < 1e-4, (d, norm2)
    # single-token doc: exactly one dimension at +/-1
    assert sorted(abs(v) for v in by_doc[3].values()) == [1.0]


def test_dedup_cluster_stats_mass_conservation(spark):
    """Cluster sizes must partition the corpus: sum(n_docs) == corpus
    size, and planted exact-duplicate groups appear at their size."""
    from banking_data_etl_pipeline_spark.operators import dedup

    base = [
        (i, f"uniq{i} alpha{i} beta{i} gamma{i} delta{i} epsilon{i} "
            f"zeta{i} eta{i} theta{i} iota{i}")
        for i in range(6)
    ]
    trip = [(100 + j, "same text here for all three copies of this doc")
            for j in range(3)]
    docs = spark.createDataFrame(base + trip, "doc_id long, text string")
    out = {r.cluster_size: (r.n_clusters, r.n_docs)
           for r in dedup.dedup_cluster_stats(docs).collect()}
    assert sum(nd for _, nd in out.values()) == 9
    assert out[3] == (1, 3)
    assert out[1] == (6, 6)
    spark.catalog.clearCache()
