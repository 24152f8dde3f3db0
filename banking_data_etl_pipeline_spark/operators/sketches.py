"""Approximate aggregation sketches — the sublinear-memory path for
100 TB interactive analytics.

Exact COUNT(DISTINCT), exact quantiles and exact token counts (see
``operators.relational``) need a full shuffle/sort of the keys; the
sketches here are one map-side pass with fixed-size mergeable state
(HyperLogLog registers, Misra–Gries and Count-Min counters, Bloom
bits, bottom-k and theta samples, histogram bins).

They are built from first principles on md5-derived hashes rather than
on Spark's engine-seeded ``approx_count_distinct`` /
``percentile_approx``, so the same state comes out of any engine: each
registered sketch query has a DuckDB value-parity twin, and
``tests/test_sketches.py`` also checks the published error bounds
against the exact counts.

``heavy_hitters`` goes one step further: Misra–Gries is only the FIRST
pass (a candidate pruner); a second exact pass over the candidates
makes the final answer exact (``HEAVY_HITTERS_Q``).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import texttools
from .relational import top_k


def heavy_hitters(
    docs: DataFrame, text_col: str = "text", k: int = 64
) -> DataFrame:
    """Exact corpus heavy hitters (tokens with frequency > N/k) via a
    Misra–Gries candidate pass + an exact verification pass.

    Why not one ``groupBy(token)``? At 100 TB the full token groupBy
    shuffles one row per (map partition, distinct token) — the whole
    vocabulary crosses the wire. Misra–Gries caps the map-side state at
    ``k`` counters per partition, so the candidate shuffle is
    O(k × partitions) REGARDLESS of vocabulary size, and the classic
    pigeonhole guarantee (any token with global count > N/(k+1) must
    exceed its local decrement budget in at least one partition) makes
    the merged candidate set a strict superset of the true > N/k set.
    Pass 2 then counts ONLY the candidates — the corpus-side explode is
    pre-filtered by a broadcast semi-join, so again nothing
    vocabulary-sized shuffles — and the final ``cnt * k > N`` cut makes
    the output exact and deterministic (hence oracle-twinnable, unlike
    the one-pass sketches above).

    The candidate pass runs in Arrow-batched ``mapInPandas`` (the MG
    dict is inherently imperative state). Its Python tokenizer must
    reproduce ``texttools.tokens`` (Spark ``split(lower(t), '\\s+')``):
    Java ``\\s`` without UNICODE_CHARACTER_CLASS is the ASCII class
    ``[ \\t\\n\\x0b\\f\\r]`` only, while Python ``str.split()`` also
    splits on Unicode whitespace (\\xa0, \\x1c, ...) — a token
    containing such a character would never enter the counters and a
    true heavy hitter could be silently dropped from the exact output.
    So the primary MG pass splits on the exact Java-``\\s`` class; a
    second MG pass over Python's ``str.split()`` tokenization is
    unioned in as belt-and-braces, so the candidate set remains a
    superset of the true heavy hitters under EITHER whitespace rule
    (any residual ``lower()`` divergence between the JVM and CPython
    Unicode tables would have to hit both rules to escape). The exact
    pass re-counts candidates with the canonical Spark tokenizer, so
    candidates only ever widen the superset — never the final answer.
    """
    java_ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def mg_feed(counters: dict[str, int], toks: list[str]) -> None:
        for tok in toks:
            if not tok:
                continue
            if tok in counters:
                counters[tok] += 1
            elif len(counters) < k:
                counters[tok] = 1
            else:
                dead = [t for t in counters if counters[t] == 1]
                for t in counters:
                    counters[t] -= 1
                for t in dead:
                    del counters[t]

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ascii_ws: dict[str, int] = {}
        unicode_ws: dict[str, int] = {}
        for pdf in batches:
            for text in pdf[text_col]:
                if text is None:
                    continue
                low = text.lower()
                mg_feed(ascii_ws, java_ws.split(low))
                mg_feed(unicode_ws, low.split())
        cand = set(ascii_ws) | set(unicode_ws)
        yield pd.DataFrame({"token": pd.Series(sorted(cand), dtype="object")})

    candidates = docs.select(text_col).mapInPandas(
        mg_partition, "token string"
    ).distinct()
    toks = docs.select(
        F.explode(texttools.tokens(F.col(text_col))).alias("token")
    )
    # corpus token total: map-only aggregate over the raw scan,
    # injected as an uncorrelated scalar subquery (no collect)
    n_tok = docs.agg(
        F.sum(F.size(texttools.tokens(F.col(text_col)))).alias("n")
    ).scalar()
    exact = (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return exact.filter(F.col("cnt") * k > n_tok).select(
        "token",
        "cnt",
        F.round(F.col("cnt") / n_tok.cast("double"), 6).alias("share"),
    )


def hll_distinct(
    events: DataFrame, col: str = "user_id", p: int = 8
) -> DataFrame:
    """Deterministic HyperLogLog distinct count (Flajolet et al. 2007)
    built from first principles on an md5-derived 32-bit hash, so the
    SAME registers come out of any engine — unlike
    ``approx_count_distinct`` (engine-seeded, bound-checked only),
    this one is value-parity-testable against a DuckDB twin and
    demonstrates the sketch mechanics the built-in hides: register
    index = top ``p`` hash bits, rho = leading-zero rank of the
    remaining ``32-p`` bits, registers merge with MAX.

    Scale shape: ONE map-only pass over the column, then a groupBy on
    at most ``m = 2**p`` register indexes (map-side combine collapses
    each partition to <= m rows before the shuffle — constant state
    per partition, the whole point of HLL at 100 TB). The register
    table is m rows; the final reduce is a single-row aggregate. The
    exact count (for the reported error) is computed alongside from
    the same scan and is the only non-sketch cost.

    Float parity: the harmonic sum adds exact powers of two
    (2^-0..2^-25, all exactly representable, total < 2^9), so it is
    EXACT and addition-order-independent across engines; ln/division
    happen once on identical doubles and the outputs are rounded to
    6 dp per the oracle parity rules.

    Returns one row: (m, n_used, raw_estimate, estimate,
    exact_distinct, rel_error) with the small-range correction
    (E <= 2.5m and empty registers present -> linear counting)
    applied exactly as published.
    """
    m = 2**p
    wbits = 32 - p
    h32 = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    hashed = events.select(h32.alias("h32"))
    regs = (
        hashed.select(
            F.shiftright(F.col("h32"), wbits).alias("idx"),
            (F.col("h32").bitwiseAND(F.lit((1 << wbits) - 1))).alias("w"),
        )
        .select(
            "idx",
            F.when(F.col("w") == 0, F.lit(wbits + 1))
            .otherwise(F.lit(wbits + 1) - F.length(F.bin(F.col("w"))))
            .alias("rho"),
        )
        .groupBy("idx")
        .agg(F.max("rho").alias("reg"))
    )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    sketch = regs.agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("z_used"),
    ).select(
        F.lit(m).alias("m"),
        F.col("n_used").cast("long").alias("n_used"),
        (F.col("z_used") + (F.lit(m) - F.col("n_used")) * F.lit(1.0)).alias("_z"),
        (F.lit(m) - F.col("n_used")).cast("double").alias("_v"),
    )
    # the exact count (reported alongside for the error column) enters
    # as an uncorrelated SCALAR SUBQUERY — a 1-row crossJoin would plan
    # a BroadcastNestedLoopJoin and trip the no-NLJ plan sweep
    exact = (
        events.agg(F.count_distinct(F.col(col)).alias("exact_distinct"))
        .scalar()
        .cast("long")
    )
    est_raw = F.lit(alpha) * F.lit(float(m)) * F.lit(float(m)) / F.col("_z")
    est = F.when(
        (est_raw <= F.lit(2.5 * m)) & (F.col("_v") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("_v")),
    ).otherwise(est_raw)
    return sketch.select(
        "m",
        "n_used",
        F.round(est_raw, 6).alias("raw_estimate"),
        F.round(est, 6).alias("estimate"),
        exact.alias("exact_distinct"),
        F.round(F.abs(est - exact) / exact, 6).alias("rel_error"),
    )


def bloom_screen(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter membership screen for ingestion-time dedup: build
    a deterministic Bloom filter over the CORPUS texts (k md5-derived
    bit positions each), then flag every BATCH document whose k
    positions are all set — the constant-memory front gate that lets
    an incremental pipeline skip the exact/MinHash machinery for the
    overwhelmingly-common "never seen anything like it" case. No
    false negatives by construction (a true duplicate always hits);
    false-positive rate ~ (1 - e^(-kn/m))^k is the tunable cost.

    Scale shape: the filter is the DISTINCT set of set bit positions
    — at most ``m_bits`` rows regardless of corpus size (map-side
    combine collapses each partition before the tiny shuffle), and it
    BROADCASTS to the batch side (a few KB), so screening N new docs
    is one map-only pass with a broadcast hash join per position: no
    shuffle of the batch at all. This mirrors how a production filter
    would ship: the bit array is the model artifact, the batch scan
    is embarrassingly parallel.

    Returns one row per batch doc: (id_col, bloom_hit) where
    bloom_hit means "all k positions set" (maybe-duplicate; the exact
    confirmation pass is the caller's next stage).
    """

    bits = (
        corpus.select(
            F.explode(bloom_positions(F.col(text_col), m_bits, k)).alias("bit")
        )
        .distinct()
        .withColumn("_set", F.lit(1))
    )
    probes = batch.select(
        F.col(id_col),
        F.explode(bloom_positions(F.col(text_col), m_bits, k)).alias("bit"),
    )
    return (
        probes.join(F.broadcast(bits), "bit", "left")
        .groupBy(id_col)
        .agg((F.sum(F.coalesce(F.col("_set"), F.lit(0))) == k).alias("bloom_hit"))
    )


def bloom_positions(text, m_bits: int = 4096, k: int = 3):
    """The k salted md5-slice bit positions of a text as an
    array<long> column (shared by the batch and streaming screens and
    their oracle twins)."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{j}|"), text)), 1, 8),
                    16,
                    10,
                ).cast("long")
                % m_bits
            )
            for j in range(k)
        ]
    )


def bloom_bits_artifact(
    corpus: DataFrame, text_col: str = "text", m_bits: int = 4096, k: int = 3
) -> list[int]:
    """Collect the corpus Bloom bit set to the driver as a sorted int
    list — the SHIPPABLE FILTER ARTIFACT (<= m_bits ints, ~32 KB at
    the default size, model-parameter scale like k-means centroids):
    a production pipeline persists this once per corpus snapshot and
    inlines it into every ingestion stream, so screening never touches
    the corpus again."""
    rows = (
        corpus.select(
            F.explode(bloom_positions(F.col(text_col), m_bits, k)).alias("bit")
        )
        .distinct()
        .collect()
    )
    return sorted(int(r.bit) for r in rows)


def hll_merge_proof(
    events: DataFrame,
    col: str = "user_id",
    group_col: str = "event_type",
    p: int = 8,
) -> DataFrame:
    """The MERGEABILITY demonstration that justifies sketches at
    100 TB: per-group HLL registers merge with MAX into registers
    IDENTICAL to sketching the union directly — so partial aggregates
    computed per partition / per day / per shard combine without
    revisiting data (count-distinct itself has no such property; that
    asymmetry is the whole reason HLL exists). This operator computes
    the distinct estimate BOTH ways over the same md5-derived
    deterministic registers as ``hll_distinct`` and emits them
    side-by-side with an equality flag.

    Returns one row: (m, est_merged, est_direct, merged_equals_direct,
    exact_distinct) — merged_equals_direct is True by construction;
    the oracle twin re-derives it independently, so a regression in
    either path (or a non-mergeable refactor) breaks the hash."""
    m = 2**p
    wbits = 32 - p
    h32 = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    rho = F.when(F.col("w") == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(F.col("w")))
    )
    base = events.select(
        F.col(group_col).alias("grp"),
        F.shiftright(h32, wbits).alias("idx"),
        h32.bitwiseAND(F.lit((1 << wbits) - 1)).alias("w"),
    ).select("grp", "idx", rho.alias("rho"))
    per_group = base.groupBy("grp", "idx").agg(F.max("rho").alias("reg"))
    merged = per_group.groupBy("idx").agg(F.max("reg").alias("reg"))
    direct = base.groupBy("idx").agg(F.max("rho").alias("reg"))

    def estimate(regs: DataFrame) -> "F.Column":
        alpha = 0.7213 / (1.0 + 1.079 / m)
        sk = regs.agg(
            F.count(F.lit(1)).alias("n_used"),
            F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("z_used"),
        ).select(
            (F.col("z_used") + (F.lit(m) - F.col("n_used"))).alias("z"),
            (F.lit(m) - F.col("n_used")).cast("double").alias("v"),
        )
        raw = F.lit(alpha) * F.lit(float(m * m)) / F.col("z")
        est = F.when(
            (raw <= F.lit(2.5 * m)) & (F.col("v") > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v")),
        ).otherwise(raw)
        return sk.select(F.round(est, 6).alias("e")).scalar()

    e_merged = estimate(merged)
    e_direct = estimate(direct)
    exact = (
        events.agg(F.count_distinct(F.col(col)).alias("x")).scalar().cast("long")
    )
    return events.limit(1).select(
        F.lit(m).alias("m"),
        e_merged.alias("est_merged"),
        e_direct.alias("est_direct"),
        (e_merged == e_direct).alias("merged_equals_direct"),
        exact.alias("exact_distinct"),
    )


def countmin_freq(
    events: DataFrame,
    col: str = "user_id",
    d: int = 4,
    w: int = 256,
    n_probes: int = 10,
) -> DataFrame:
    """Count-Min sketch point queries (Cormode & Muthukrishnan 2005)
    with the exact counts alongside — the bounded-memory frequency
    table that complements ``heavy_hitters`` (which finds the keys;
    this answers "how often is key x" for keys you already hold).

    Sketch build is ONE map pass that fans each row into its ``d``
    salted md5 buckets, then a groupBy on at most ``d*w`` counter
    cells — map-side combine collapses every partition to <= d*w rows
    before the shuffle, so the shuffle is CONSTANT-size no matter the
    input (the HLL shape). Counters merge across shards by plain SUM —
    which is exactly what the groupBy's partial aggregation already
    does, so the sketch is mergeable for free. The probe side joins
    ``n_probes`` keys (broadcast, kilobytes) against the counter table
    and takes min over the d rows; the exact counts (for the reported
    error) are the only non-sketch cost, as in ``hll_distinct``.

    CM guarantees estimate >= exact (collisions only ADD); the
    ``overcount`` column is therefore always >= 0 — pinned by a
    property test and by the DuckDB twin.

    Probe set: the ``n_probes`` lowest distinct keys (deterministic).
    Returns (user_id, estimate, exact_count, overcount)."""
    key = F.col(col).cast("string")

    def bucket(j: int, k):
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cm{j}|"), k)), 1, 8), 16, 10
        ).cast("long")
        return h % w

    pairs = events.select(
        F.posexplode(F.array(*[bucket(j, key) for j in range(d)])).alias(
            "j", "bucket"
        )
    )
    counters = pairs.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    probes = (
        events.select(F.col(col)).distinct().orderBy(F.col(col).asc()).limit(n_probes)
    )
    probe_pairs = probes.select(
        F.col(col),
        F.posexplode(F.array(*[bucket(j, key) for j in range(d)])).alias(
            "j", "bucket"
        ),
    )
    est = (
        probe_pairs.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy(col)
        .agg(F.min("cnt").alias("estimate"))
    )
    exact = events.groupBy(col).agg(F.count(F.lit(1)).alias("exact_count"))
    return exact.join(F.broadcast(est), col).select(
        F.col(col),
        F.col("estimate").cast("long").alias("estimate"),
        F.col("exact_count").cast("long").alias("exact_count"),
        (F.col("estimate") - F.col("exact_count")).cast("long").alias("overcount"),
    )


def _cms_ngram_parts(
    docs: DataFrame, n: int, d: int, w: int, text_col: str
):
    """Shared build for the heavy-hitter n-gram family: the occurrence
    stream (one row per n-gram OCCURRENCE — heavy hitters count
    repeats, unlike the distinct-shingle dedup ops), the d×w Count-Min
    counter table, and the bucket expression."""

    def bucket(j: int, kcol):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"cmng{j}|"), kcol)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        return h % w

    grams = docs.select(
        F.explode(
            texttools.word_shingles(
                texttools.tokens(F.col(text_col)), n
            )
        ).alias("g")
    )
    pairs = grams.select(
        F.posexplode(
            F.array(*[bucket(j, F.col("g")) for j in range(d)])
        ).alias("j", "bucket")
    )
    counters = pairs.groupBy("j", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return grams, counters, bucket


def cms_ngram_hitters(
    docs: DataFrame,
    n: int = 3,
    d: int = 4,
    w: int = 1024,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-repeated n-grams via a Count-Min sketch
    (Cormode & Muthukrishnan 2005) — the frequency-ranked complement
    to ``substr_dedup``'s extents: "what is my corpus full of", the
    question every training-data audit asks before choosing filters.

    Scale shape: the counter table is a CONSTANT d×w cells regardless
    of corpus size (map-side combine collapses each partition before
    the one constant-size shuffle — the ``countmin_freq`` shape), and
    the candidate probe joins the BROADCAST counter table (kilobytes),
    so ranking is map-side + one top-k. The candidate set here is the
    corpus's distinct n-grams (one dedup shuffle); at 100 TB you swap
    that leg for per-partition SpaceSaving proposals and keep
    everything else — the sketch, probe, and ranking are already the
    bounded-state path. Estimates only ever OVER-count (collisions
    add), so the true top-k can never be pushed out by a sketch error
    — a heavy hitter's estimate >= its true count >= any true top-k
    threshold.

    Deterministic: salted md5 buckets, min over d rows, ties broken
    (estimate DESC, ngram ASC). Returns (rank, ngram, estimate)."""
    grams, counters, bucket = _cms_ngram_parts(docs, n, d, w, text_col)
    return cms_rank_candidates(grams.distinct(), counters, bucket, d, k)


def cms_rank_candidates(
    cands: DataFrame, counters: DataFrame, bucket, d: int, k: int
) -> DataFrame:
    """Probe-and-rank shared by the batch and STREAMED counter tables:
    candidates join the broadcast counters, min over the d rows is the
    estimate, top-k by (estimate DESC, ngram ASC)."""
    probe = cands.select(
        "g",
        F.posexplode(
            F.array(*[bucket(j, F.col("g")) for j in range(d)])
        ).alias("j", "bucket"),
    )
    est = (
        probe.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("g")
        .agg(F.min("cnt").alias("estimate"))
    )
    top = est.orderBy(F.desc("estimate"), F.asc("g")).limit(k)
    wr = Window.orderBy(F.desc("estimate"), F.asc("g"))
    return top.select(
        F.row_number().over(wr).cast("int").alias("rank"),
        F.col("g").alias("ngram"),
        F.col("estimate").cast("long").alias("estimate"),
    )


def cms_ngram_hitters_exact(
    docs: DataFrame,
    n: int = 3,
    d: int = 4,
    w: int = 1024,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Exact-top-k verification twin of ``cms_ngram_hitters``: the true
    top-k n-grams by occurrence count, each with its Count-Min estimate
    alongside so the sketch error is visible per row (the
    ``hll_distinct``/``countmin_freq`` convention — the exact leg is
    the eval harness you drop at 100 TB, the sketch column is what
    remains). ``overcount`` is always >= 0 (CM only over-counts);
    pinned by a property test. Returns (rank, ngram, exact_count,
    estimate, overcount)."""
    grams, counters, bucket = _cms_ngram_parts(docs, n, d, w, text_col)
    exact = grams.groupBy("g").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    top = exact.orderBy(F.desc("exact_count"), F.asc("g")).limit(k)
    probe = top.select(
        "g",
        "exact_count",
        F.posexplode(
            F.array(*[bucket(j, F.col("g")) for j in range(d)])
        ).alias("j", "bucket"),
    )
    est = (
        probe.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("g", "exact_count")
        .agg(F.min("cnt").alias("estimate"))
    )
    wr = Window.orderBy(F.desc("exact_count"), F.asc("g"))
    return est.select(
        F.row_number().over(wr).cast("int").alias("rank"),
        F.col("g").alias("ngram"),
        F.col("exact_count").cast("long").alias("exact_count"),
        F.col("estimate").cast("long").alias("estimate"),
        (F.col("estimate") - F.col("exact_count"))
        .cast("long")
        .alias("overcount"),
    )


def source_bottomk_jaccard(
    docs: DataFrame,
    k: int = 64,
    text_col: str = "text",
    stratum: str = "source",
) -> DataFrame:
    """Cross-source vocabulary overlap by BOTTOM-K sketches (the
    mergeable fixed-size alternative to MinHash for set resemblance,
    Cohen & Kaplan 2007): each source keeps its k lexicographically
    smallest md5(token) values; a pair's Jaccard is estimated as the
    fraction of the merged sketch's k smallest hashes present in BOTH
    sides. The per-pair exact Jaccard rides alongside so the sketch's
    error is visible per row — the sketch is the 100 TB path (per-source
    state is k hashes, built with per-partition heaps and merged
    associatively; sources never exchange token lists), the exact leg
    is the eval harness you drop at scale.

    Dedup/curation use: "how much does source B's vocabulary overlap
    source A's" decides mixing weights and flags mirrored crawls
    before any pairwise document work runs.

    Returns one row per unordered source pair (source_a < source_b):
    (source_a, source_b, n_a, n_b, n_inter, exact_jaccard, n_union_k,
    n_both, est_jaccard), jaccards 6-dp."""
    st = (
        docs.select(
            F.col(stratum).alias("source"),
            F.explode(texttools.tokens(F.col(text_col))).alias("token"),
        )
        .distinct()
    )
    hashed = st.select("source", F.md5("token").alias("h"))
    # per-source bottom-k: WindowGroupLimit keeps k hashes per source
    # in each partition before the exchange, so no reducer sorts a
    # whole source's vocabulary
    sketch = top_k(hashed, "source", F.col("h").asc(), k, "_r").select(
        "source", "h"
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("n_tok"))
    # unordered source pairs: |sources| is catalog-sized, the cross
    # join is tiny by design (the source_semantic_map precedent)
    a = sizes.select(
        F.col("source").alias("source_a"), F.col("n_tok").alias("n_a")
    )
    b = sizes.select(
        F.col("source").alias("source_b"), F.col("n_tok").alias("n_b")
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(
        F.col("source_a") < F.col("source_b")
    )
    # exact leg: one token equi-join over the distinct postings
    inter = (
        st.select(F.col("source").alias("source_a"), "token")
        .join(
            st.select(F.col("source").alias("source_b"), "token"), "token"
        )
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # estimator: k smallest of the MERGED sketches, membership in both
    merged = (
        pairs.select("source_a", "source_b")
        .join(
            F.broadcast(sketch).withColumnRenamed("source", "source_a"),
            "source_a",
        )
        .select("source_a", "source_b", "h")
        .unionByName(
            pairs.select("source_a", "source_b")
            .join(
                F.broadcast(sketch).withColumnRenamed("source", "source_b"),
                "source_b",
            )
            .select("source_a", "source_b", "h")
        )
        .groupBy("source_a", "source_b", "h")
        .agg(F.count(F.lit(1)).alias("_n_sides"))
    )
    est = (
        top_k(merged, ["source_a", "source_b"], F.col("h").asc(), k, "_r")
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_union_k"),
            F.sum(F.when(F.col("_n_sides") == 2, 1).otherwise(0)).alias(
                "n_both"
            ),
        )
    )
    return (
        pairs.join(inter, ["source_a", "source_b"], "left")
        .join(est, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.coalesce(F.col("n_inter"), F.lit(0)).cast("bigint").alias("n_inter"),
            F.round(
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (F.col("n_a") + F.col("n_b")
                   - F.coalesce(F.col("n_inter"), F.lit(0))).cast("double"),
                6,
            ).alias("exact_jaccard"),
            F.col("n_union_k").cast("bigint").alias("n_union_k"),
            F.col("n_both").cast("bigint").alias("n_both"),
            F.round(
                F.col("n_both").cast("double") / F.col("n_union_k").cast("double"),
                6,
            ).alias("est_jaccard"),
        )
    )


def histogram_quantiles(
    df: DataFrame,
    col: str = "l_extendedprice",
    bins: int = 128,
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Quantiles by a MERGEABLE equi-width histogram sketch, with the
    exact answer computed through sketch-guided pruning — the
    two-pass distributed-quantile shape that never globally sorts:

    1. one ungrouped agg for (min, max, n); 2. per-partition bin
    counts merged associatively (the 100 TB-correct sketch shape —
    ``bins`` counters per partition reach the shuffle, the histogram
    itself is model-parameter scale); 3. the ESTIMATE interpolates
    linearly inside the quantile's bin; 4. the EXACT value prunes to
    that single bin (~n/bins rows) and takes the (k − cum_before)-th
    smallest there via TakeOrdered — the histogram tells us exactly
    which rows can matter, so the exact pass reads 1/bins of the data
    and sorts a sliver. Exact = max of the first (k − cum_before)
    ordered values in the bin, k = ceil(p·n) — the classic
    count-below definition, deterministic under ties because it is
    value-based.

    Returns one row per p: (p, n, est_quantile, exact_quantile,
    abs_err), est/exact/err 6-dp. The histogram collect is ``bins``
    rows (model scale, the centroid precedent)."""
    import math

    spark = df.sparkSession
    v = F.col(col).cast("double")
    lo, hi, n = df.agg(
        F.min(v).alias("lo"), F.max(v).alias("hi"), F.count(v).alias("n")
    ).first()
    if n == 0 or hi == lo:
        raise ValueError(
            f"histogram_quantiles: degenerate {col} domain (n={n}, "
            f"lo==hi={lo!r}) — the bin width would be 0"
        )
    lo, hi = float(lo), float(hi)
    width = (hi - lo) / bins
    bin_expr = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")
    binned = df.select(v.alias("_v"), bin_expr.alias("_b"))
    hist = {
        r._b: r.c
        for r in binned.groupBy("_b").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    parts = []
    for p in ps:
        k = int(math.ceil(p * n))
        cum = 0
        bstar, cum_before = bins - 1, 0
        for b in range(bins):
            c = hist.get(b, 0)
            if cum + c >= k:
                bstar, cum_before = b, cum
                break
            cum += c
        c_star = hist.get(bstar, 0)
        frac = (k - cum_before) / c_star if c_star else 0.0
        est = lo + (bstar + frac) * width
        k_in_bin = k - cum_before
        exact = (
            binned.filter(F.col("_b") == bstar)
            .orderBy(F.col("_v").asc())
            .limit(k_in_bin)
            .agg(
                F.lit(float(p)).alias("p"),
                F.lit(int(n)).cast("bigint").alias("n"),
                F.round(F.lit(est), 6).alias("est_quantile"),
                F.round(F.max("_v"), 6).alias("exact_quantile"),
                F.round(F.abs(F.max("_v") - F.lit(est)), 6).alias("abs_err"),
            )
        )
        parts.append(exact)
    out = parts[0]
    for p_df in parts[1:]:
        out = out.unionByName(p_df)
    return out


def grouped_hll_distinct(
    events: DataFrame,
    group_col: str = "event_type",
    col: str = "user_id",
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog distinct counts — ``hll_distinct`` as a
    GROUPED aggregate, the shape that matters at 100 TB: per-dimension
    cardinality dashboards (distinct users per event type / per day /
    per source) from ONE pass, each group's state a fixed 2^p
    registers that merge with MAX across partitions. The naive
    count_distinct-per-group re-shuffles raw values per group; this
    shuffles at most m rows per group no matter the data size.

    Same deterministic md5-derived registers, harmonic sum of exact
    powers of two, and published small-range correction as
    ``hll_distinct`` (that docstring carries the parity argument);
    the exact per-group count is computed alongside from the same
    scan and broadcast-joined for the error column.

    Returns one row per group: (group, m, n_used, raw_estimate,
    estimate, exact_distinct, rel_error), ordered by group."""
    m = 2**p
    wbits = 32 - p
    h32 = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    regs = (
        events.select(F.col(group_col).alias("grp"), h32.alias("h32"))
        .select(
            "grp",
            F.shiftright(F.col("h32"), wbits).alias("idx"),
            (F.col("h32").bitwiseAND(F.lit((1 << wbits) - 1))).alias("w"),
        )
        .select(
            "grp",
            "idx",
            F.when(F.col("w") == 0, F.lit(wbits + 1))
            .otherwise(F.lit(wbits + 1) - F.length(F.bin(F.col("w"))))
            .alias("rho"),
        )
        .groupBy("grp", "idx")
        .agg(F.max("rho").alias("reg"))
    )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    sk = regs.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("z_used"),
    )
    exact = events.groupBy(F.col(group_col).alias("_g")).agg(
        F.count_distinct(F.col(col)).cast("long").alias("exact_distinct")
    )
    est_raw = (
        F.lit(alpha)
        * F.lit(float(m))
        * F.lit(float(m))
        / (F.col("z_used") + (F.lit(m) - F.col("n_used")) * F.lit(1.0))
    )
    v = (F.lit(m) - F.col("n_used")).cast("double")
    est = F.when(
        (est_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(est_raw)
    return (
        sk.join(F.broadcast(exact), F.col("grp") == F.col("_g"))
        .select(
            F.col("grp").alias(group_col),
            F.lit(m).alias("m"),
            "n_used",
            F.round(est_raw, 6).alias("raw_estimate"),
            F.round(est, 6).alias("estimate"),
            "exact_distinct",
            F.round(F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 6).alias(
                "rel_error"
            ),
        )
        .orderBy(group_col)
    )


# ------------------------------------------------------- theta / KMV

# Shared formula text for the hash-space fraction of a 32-bit prefix
# (oracle interpolates the same string over its own h32 derivation).
THETA_FRAC = "CAST({h} AS DOUBLE) / CAST(4294967296 AS DOUBLE)"


def theta_intersections(
    events: DataFrame,
    group_col: str = "event_type",
    col: str = "user_id",
    k: int = 128,
) -> DataFrame:
    """Pairwise set-INTERSECTION estimates between per-group member
    sets via KMV/theta sketches (Beyer et al. 2007; the
    DataSketches theta family) — the set-operation companion to
    ``grouped_hll_distinct``: HLL answers "how many distinct per
    group", theta answers "how much do two groups OVERLAP" without
    ever joining the raw sets. Audience-overlap, cross-surface
    dedup-rate and segment-containment dashboards are this exact
    query.

    Sketch: per group keep the k smallest 32-bit md5 prefixes
    (integer order — ranking and thresholding use the SAME h32, so
    both engines agree bit-for-bit). theta = the k-th smallest as a
    hash-space fraction (1.0 when the group has fewer than k distinct
    members — the sketch is exact there). For a pair, candidates are
    sketch hashes present in BOTH sketches strictly below
    theta_pair = min(theta_a, theta_b); |candidates| / theta_pair
    estimates the intersection, and the same threshold over the
    sketch UNION estimates the union.

    Scale shape (100 TB): the raw scan reduces to distinct
    (group, h32) pairs with map-side combine; per-group rank-k keeps
    k rows per group (a window over group partitions — each group's
    sketch is k rows no matter the data size); every pairwise step
    joins k-row sketches (groups² × k at worst — model-parameter
    scale). The exact-overlap columns come from one additional
    user-key co-partitioned self-join of the distinct member sets —
    they are the REPORT'S audit columns, not part of the sketch path
    (drop them in production and nothing scales with data).

    Returns one row per unordered group pair: (type_a, type_b, k,
    theta, n_candidates, est_intersection, exact_intersection,
    est_union, exact_union, rel_error), ordered by type_a, type_b."""
    h = (
        events.select(
            F.col(group_col).alias("grp"),
            F.conv(
                F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10
            )
            .cast("bigint")
            .alias("h32"),
        )
        .distinct()
    )
    sk = top_k(h, "grp", "h32", k, "rn")
    gs = sk.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.max("h32").alias("kth"),
    ).select(
        "grp",
        "n_kept",
        F.when(F.col("n_kept") < k, F.lit(2**32).cast("bigint"))
        .otherwise(F.col("kth"))
        .alias("thr"),
    )
    a = gs.alias("a")
    b = gs.alias("b")
    pairs = a.join(
        b, F.col("a.grp") < F.col("b.grp")
    ).select(
        F.col("a.grp").alias("type_a"),
        F.col("b.grp").alias("type_b"),
        F.least(F.col("a.thr"), F.col("b.thr")).alias("thr"),
    )
    ska = sk.select(F.col("grp").alias("type_a"), "h32")
    skb = sk.select(F.col("grp").alias("type_b"), "h32")
    inter = (
        pairs.join(ska, "type_a")
        .join(skb, ["type_b", "h32"])
        .filter(F.col("h32") < F.col("thr"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    )
    cand_a = pairs.join(ska, "type_a").select(
        "type_a", "type_b", "thr", "h32"
    )
    cand_b = pairs.join(skb, "type_b").select(
        "type_a", "type_b", "thr", "h32"
    )
    uni = (
        cand_a.unionByName(cand_b)
        .filter(F.col("h32") < F.col("thr"))
        .select("type_a", "type_b", "h32")
        .distinct()
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_union"))
    )
    members = events.select(
        F.col(group_col).alias("grp"), F.col(col).alias("m")
    ).distinct()
    ma = members.select(F.col("grp").alias("type_a"), "m")
    mb = members.select(F.col("grp").alias("type_b"), "m")
    exact_i = (
        ma.join(mb, "m")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersection"))
    )
    sizes = members.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    filled = (
        pairs.join(inter, ["type_a", "type_b"], "left")
        .join(uni, ["type_a", "type_b"], "left")
        .join(exact_i, ["type_a", "type_b"], "left")
        .join(
            sizes.select(F.col("grp").alias("type_a"), F.col("sz").alias("sz_a")),
            "type_a",
        )
        .join(
            sizes.select(F.col("grp").alias("type_b"), F.col("sz").alias("sz_b")),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "thr",
            F.expr("CAST(coalesce(n_candidates, 0) AS BIGINT)").alias(
                "n_candidates"
            ),
            F.expr("CAST(coalesce(n_union, 0) AS BIGINT)").alias("n_union"),
            F.expr("CAST(coalesce(exact_intersection, 0) AS BIGINT)").alias(
                "exact_i"
            ),
            F.expr("CAST(sz_a + sz_b - coalesce(exact_intersection, 0)"
                   " AS BIGINT)").alias("exact_u"),
        )
    )
    frac = THETA_FRAC.format(h="thr")
    est_i = f"round(CAST(n_candidates AS DOUBLE) / ({frac}), 6)"
    est_u = f"round(CAST(n_union AS DOUBLE) / ({frac}), 6)"
    return filled.select(
        "type_a",
        "type_b",
        F.lit(k).cast("int").alias("k"),
        F.expr(f"round({frac}, 6)").alias("theta"),
        "n_candidates",
        F.expr(est_i).alias("est_intersection"),
        F.col("exact_i").alias("exact_intersection"),
        F.expr(est_u).alias("est_union"),
        F.col("exact_u").alias("exact_union"),
        F.expr(
            f"round(abs({est_i} - CAST(exact_i AS DOUBLE))"
            " / CAST(greatest(exact_i, 1) AS DOUBLE), 6)"
        ).alias("rel_error"),
    ).orderBy("type_a", "type_b")
