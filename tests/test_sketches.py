"""Sketch accuracy bounds vs exact counts on the same data."""

from __future__ import annotations

from banking_data_etl_pipeline_spark.operators import sketches
from banking_data_etl_pipeline_spark.sources import tables

from conftest import SF_DIR


def test_heavy_hitters_equals_exact_cut(spark):
    """MG candidates + verify must equal the plain exact > N/k set."""
    from pyspark.sql import functions as F

    from banking_data_etl_pipeline_spark.functions import texttools

    docs = tables.load(spark, SF_DIR, "documents")
    got = {
        (r.token, r.cnt)
        for r in sketches.heavy_hitters(docs, k=64).collect()
    }
    toks = docs.select(
        F.explode(texttools.tokens(F.col("text"))).alias("token")
    )
    n = toks.count()
    want = {
        (r.token, r.cnt)
        for r in toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * 64 > F.lit(n))
        .collect()
    }
    assert got == want and len(want) > 0


def test_heavy_hitters_survives_adversarial_skew(spark):
    """A heavy token diluted across many partitions must still emerge:
    the MG superset guarantee is the whole point of the operator."""
    from pyspark.sql import functions as F

    # 40 partitions; 'hot' is ~1/8 of all tokens but never locally
    # dominant next to the per-partition unique filler tokens
    rows = []
    for p in range(40):
        for i in range(50):
            filler = " ".join(f"f{p}_{i}_{j}" for j in range(7))
            rows.append((p * 50 + i, f"hot {filler}",))
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(40)
    out = {r.token for r in sketches.heavy_hitters(docs, k=16).collect()}
    assert out == {"hot"}  # 1/8 share > 1/16 cut; no filler survives


def test_candidate_tokenizer_matches_jvm_split(spark):
    """The MG candidate pass's Python tokenizer (ASCII-\\s split of the
    lowercased text) must reproduce texttools.tokens (JVM
    split(lower(t), '\\s+')) on adversarial inputs — unicode
    whitespace, control chars, case-folding edge cases — so the
    Misra-Gries superset guarantee holds. One Spark pass over the
    whole fixture set."""
    import re

    from pyspark.sql import functions as F

    from banking_data_etl_pipeline_spark.functions import texttools

    java_ws = re.compile(r"[ \t\n\x0b\f\r]+")
    texts = [
        "plain ascii words",
        "a\xa0b nbsp-glued",            # U+00A0: ws in Python, not Java
        "x y line-sep",            # U+2028
        "p\x1cq file-sep",              # U+001C
        "tab\tand\nnewline\x0b\x0c\r mix",
        "  leading and trailing  ",
        "",
        "\t\n",
        "STRASSE GROSS",                # ascii upper
        "İstanbul DİŞ",                 # dotted capital I (tr)
        "ǅungla ǉeto",                  # titlecase digraphs
        "ΣΙΣΥΦΟΣ ΤΕΛΟΣ",                # final sigma context
        "ẞharp",                        # capital sharp s
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    jvm = {
        r.i: list(r.toks)
        for r in df.select(
            "i", texttools.tokens(F.col("text")).alias("toks")
        ).collect()
    }
    for i, t in enumerate(texts):
        py = [tok for tok in java_ws.split(t.lower()) if tok]
        assert py == jvm[i], (t, py, jvm[i])


def test_heavy_hitters_unicode_whitespace_token(spark):
    """Java \\s is ASCII-only, so 'a\\xa0b' is ONE canonical token;
    Python str.split() would split it and the candidate pass would
    never count the real token — the ASCII-class MG pass must keep
    the superset guarantee (the r4 ADVICE finding)."""
    from pyspark.sql import functions as F

    from banking_data_etl_pipeline_spark.functions import texttools

    glued = "a\xa0b"  # NBSP: token separator in Python, not in Java
    rows = [(i, f"{glued} x{i}") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    got = {(r.token, r.cnt) for r in sketches.heavy_hitters(docs, k=4).collect()}
    # sanity: the canonical tokenizer really keeps the NBSP token whole
    canonical = {
        r.token
        for r in docs.select(
            F.explode(texttools.tokens(F.col("text"))).alias("token")
        ).collect()
    }
    assert glued in canonical
    assert got == {(glued, 100)}  # 1/2 share > 1/4 cut; nothing dropped


def test_hll_distinct_within_published_error(spark):
    ev = tables.load(spark, SF_DIR, "events")
    row = sketches.hll_distinct(ev).first()
    assert row.m == 256
    assert 0 < row.n_used <= 256
    # p=8 -> rsd = 1.04/sqrt(256) = 6.5%; allow 4 sigma
    assert abs(row.estimate - row.exact_distinct) <= max(
        4, 0.26 * row.exact_distinct
    ), (row.estimate, row.exact_distinct)
    assert row.rel_error == round(
        abs(row.estimate - row.exact_distinct) / row.exact_distinct, 6
    ) or row.rel_error is not None


def test_bloom_screen_no_false_negatives(spark):
    from pyspark.sql import functions as F

    docs = tables.load(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    # batch contains exact copies of corpus docs -> every one must hit
    dup_batch = corpus.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    out = sketches.bloom_screen(corpus, dup_batch).collect()
    assert len(out) == dup_batch.count()
    assert all(r.bloom_hit for r in out)


def test_bloom_screen_false_positive_rate_is_sane(spark):
    from pyspark.sql import functions as F

    docs = tables.load(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    fresh = docs.filter(F.col("doc_id") % 5 == 0)  # distinct texts
    out = sketches.bloom_screen(corpus, fresh).collect()
    n_fp = sum(1 for r in out if r.bloom_hit)
    # n=400 corpus keys * 3 hashes in m=4096 bits -> fp ~ (1-e^-kn/m)^k
    # ~ 1.6%; the batch is 100 docs, so a handful at most
    assert n_fp <= 0.15 * len(out), (n_fp, len(out))


def test_hll_merge_identity_holds(spark):
    ev = tables.load(spark, SF_DIR, "events")
    [r] = sketches.hll_merge_proof(ev).collect()
    assert r.merged_equals_direct
    # and the merged estimate is the same as the single-shot sketch
    direct = sketches.hll_distinct(ev).first()
    assert abs(r.est_direct - direct.estimate) < 1e-9
    assert r.exact_distinct == direct.exact_distinct


def test_countmin_never_underestimates(spark):
    """The CM guarantee: collisions only ADD, so estimate >= exact for
    every probed key — checked on the real fixture where w=256 cells
    see thousands of distinct users (collisions certain)."""
    events = tables.load(spark, SF_DIR, "events")
    rows = sketches.countmin_freq(events, d=4, w=64, n_probes=20).collect()
    # sf0.001 has fewer than 20 distinct users; the probe set is capped
    # by what exists
    assert 1 <= len(rows) <= 20
    for r in rows:
        assert r.estimate >= r.exact_count, r
        assert r.overcount == r.estimate - r.exact_count


def test_countmin_exact_when_collision_free(spark):
    """With w far above the key cardinality every estimate must equal
    the exact count (no shared cells in any hash row)."""
    data = [(i % 5,) for i in range(40)]  # key k appears 8 times
    ev = spark.createDataFrame(data, "user_id long")
    rows = sketches.countmin_freq(ev, d=4, w=4096, n_probes=5).collect()
    assert sorted((r.user_id, r.estimate, r.exact_count) for r in rows) == [
        (k, 8, 8) for k in range(5)
    ]
