"""ANSI-SQL (DuckDB) oracle twins for every query in
``__spark_entry__.queries()``.

Parity rules that keep value hashes identical between engines:
- Every division/float literal is wrapped in CAST(.. AS DOUBLE) —
  DuckDB types bare ``10.0`` as DECIMAL, whose exact arithmetic would
  *diverge* from Spark's double arithmetic.
- Double SUMs go through DECIMAL(18,6) (exact, order-independent) and
  are cast back to double; per-row arithmetic keeps Spark's exact
  association order so IEEE-754 results are bit-identical.
- Hashing/fingerprints use md5 hex strings (identical in both) and
  lexicographic comparisons instead of hex->int conversions.
- Left folds: DuckDB ``list_reduce`` == Spark ``aggregate`` with 0.0
  init (adding 0.0 first preserves IEEE bits).
- Signed zero: Spark's SQL ``round()`` (BigDecimal HALF_UP) returns
  +0.0 for tiny negatives where DuckDB's keeps -0.0, and the value
  hash distinguishes repr(-0.0). Every ROUNDED OUTPUT COLUMN that can
  be negative must append ``+ 0.0`` on BOTH twins (normalizes -0.0,
  changes nothing else). Positive-by-construction outputs and numpy
  rounding (sign-preserving, matches DuckDB) don't need it.
"""

from __future__ import annotations

from .functions.texttools import LANG_ORDER, PUNCT_CHARS, STOPWORDS
from .sources.synthetic import bank_cte, raw_lines_cte

# ---------------------------------------------------------------- bank

NORM_COLS = [
    "job", "marital", "education", "housing", "loan", "contact",
    "month", "poutcome", "y",
]
PASS_COLS = ["bank_id", "age", "balance", "day", "duration", "campaign", "pdays", "previous"]


def _norm_select() -> str:
    cols = ", ".join(PASS_COLS) + ", " + ", ".join(
        f"lower(trim({c})) AS {c}" for c in NORM_COLS
    )
    return f"SELECT {cols} FROM bank"


BANK_PREFIX = (
    f"WITH bank AS (\n{bank_cte()}\n),\n"
    f"norm AS ({_norm_select()}),\n"
    "valid AS (SELECT * FROM norm WHERE age BETWEEN 18 AND 100)"
)

AGE_GROUP = (
    "CASE WHEN age < 30 THEN 'young' WHEN age < 50 THEN 'middle_aged'"
    " ELSE 'senior' END"
)
WEALTH = (
    "CASE WHEN balance > 50000 THEN 'high_net_worth'"
    " WHEN balance > 10000 THEN 'mass_affluent' ELSE 'mass_market' END"
)
DAY_TYPE = "CASE WHEN day % 7 IN (0, 6) THEN 'weekend' ELSE 'weekday' END"
HAS_LOANS = "(housing = 'yes' OR loan = 'yes')"
ENGAGEMENT = (
    "(least(previous, 10) / CAST(10.0 AS DOUBLE)"
    " + least(campaign, 10) / CAST(10.0 AS DOUBLE)"
    " + least(duration, 1000) / CAST(1000.0 AS DOUBLE)"
    " + CASE WHEN y = 'yes' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)"
    " / CAST(4.0 AS DOUBLE)"
)
RECENCY = (
    "CASE WHEN pdays <= -1 THEN 1 WHEN pdays <= 7 THEN 5 WHEN pdays <= 30 THEN 4"
    " WHEN pdays <= 90 THEN 3 WHEN pdays <= 180 THEN 2 ELSE 1 END"
)
FREQUENCY = (
    "CASE WHEN previous <= 3 THEN 2 WHEN previous <= 5 THEN 3"
    " WHEN previous <= 7 THEN 4 WHEN previous <= 10 THEN 5 ELSE 1 END"
)
MONETARY = (
    "CASE WHEN balance <= 5000 THEN 2 WHEN balance <= 10000 THEN 3"
    " WHEN balance <= 25000 THEN 4 WHEN balance <= 50000 THEN 5 ELSE 1 END"
)
SEGMENT = (
    "CASE WHEN (_r + _f + _m) / CAST(3.0 AS DOUBLE) >= 4 THEN 'premium'"
    " WHEN (_r + _f + _m) / CAST(3.0 AS DOUBLE) >= 3 THEN 'high_value'"
    " WHEN (_r + _f + _m) / CAST(3.0 AS DOUBLE) >= 2 THEN 'medium_value'"
    " ELSE 'low_value' END"
)
RFM_JSON = "to_json(struct_pack(recency := _r, frequency := _f, monetary := _m))"

PIPELINE_ENRICHED = f"""{BANK_PREFIX},
seg AS (
  SELECT *, {RECENCY} AS _r, {FREQUENCY} AS _f, {MONETARY} AS _m FROM valid
)
SELECT
  bank_id, age, job, marital, education, balance, housing, loan, contact,
  day, month, duration, campaign, pdays, previous, poutcome, y,
  {AGE_GROUP} AS age_group,
  {WEALTH} AS wealth_segment,
  {DAY_TYPE} AS contact_day_type,
  {HAS_LOANS} AS has_loans,
  round({ENGAGEMENT}, 6) AS engagement_score,
  {RFM_JSON} AS rfm_scores,
  {SEGMENT} AS customer_segment
FROM seg"""

AGE_GROUP_Q = f"{BANK_PREFIX}\nSELECT bank_id, age, {AGE_GROUP} AS age_group FROM valid"
WEALTH_Q = f"{BANK_PREFIX}\nSELECT bank_id, balance, {WEALTH} AS wealth_segment FROM valid"
DAY_TYPE_Q = f"{BANK_PREFIX}\nSELECT bank_id, day, {DAY_TYPE} AS contact_day_type FROM valid"
HAS_LOANS_Q = f"{BANK_PREFIX}\nSELECT bank_id, housing, loan, {HAS_LOANS} AS has_loans FROM valid"
ENGAGEMENT_Q = (
    f"{BANK_PREFIX}\nSELECT bank_id, round({ENGAGEMENT}, 6) AS engagement_score FROM valid"
)
RFM_Q = f"""{BANK_PREFIX},
seg AS (SELECT *, {RECENCY} AS _r, {FREQUENCY} AS _f, {MONETARY} AS _m FROM valid)
SELECT bank_id, _r AS recency, _f AS frequency, _m AS monetary,
       {RFM_JSON} AS rfm_scores
FROM seg"""
SEGMENT_Q = f"""{BANK_PREFIX},
seg AS (SELECT *, {RECENCY} AS _r, {FREQUENCY} AS _f, {MONETARY} AS _m FROM valid)
SELECT bank_id, {SEGMENT} AS customer_segment FROM seg"""

NORMALIZE_Q = (
    f"WITH bank AS (\n{bank_cte()}\n)\n"
    "SELECT bank_id, "
    + ", ".join(f"lower(trim({c})) AS {c}" for c in NORM_COLS)
    + ' , lower(trim("default")) AS default_flag FROM bank'
)

RANGE_FILTER_Q = (
    f"WITH bank AS (\n{bank_cte()}\n)\n"
    "SELECT bank_id, age FROM bank WHERE age BETWEEN 18 AND 100"
)

REQUIRED_FILTER_Q = (
    "WITH ev AS (SELECT event_id,"
    " CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS value,"
    " CASE WHEN event_id % 13 = 0 THEN NULL ELSE event_type END AS event_type"
    " FROM events)\n"
    "SELECT event_id, event_type, value FROM ev"
    " WHERE value IS NOT NULL AND event_type IS NOT NULL"
)

LINEAGE_Q = (
    f"WITH bank AS (\n{bank_cte()}\n)\n"
    "SELECT bank_id, md5(CAST(bank_id AS VARCHAR)) AS _batch_id,"
    " '1.2' AS _pipeline_version,"
    " '2026-01-01T00:00:00Z' AS processing_timestamp FROM bank"
)

# ------------------------------------------------------- parse / errors

_PARSE_CLASSIFY = (
    "CASE WHEN len(parts) != 17 THEN 'parsing_error'"
    " WHEN TRY_CAST(trim(parts[1]) AS BIGINT) IS NULL THEN 'parsing_error'"
    " WHEN TRY_CAST(trim(parts[1]) AS BIGINT) < 18"
    "   OR TRY_CAST(trim(parts[1]) AS BIGINT) > 100 THEN 'data_validation'"
    " ELSE 'valid' END"
)

PARSE_TYPED_Q = f"""WITH lines AS (
{raw_lines_cte()}
), p AS (SELECT line_id, line, str_split(line, ';') AS parts FROM lines)
SELECT line_id, CAST(len(parts) AS INT) AS ncols,
       TRY_CAST(trim(parts[1]) AS BIGINT) AS age,
       TRY_CAST(trim(parts[6]) AS DOUBLE) AS balance,
       {_PARSE_CLASSIFY} AS error_type
FROM p"""

ERROR_SPLIT_Q = f"""WITH lines AS (
{raw_lines_cte()}
), p AS (SELECT line_id, str_split(line, ';') AS parts FROM lines)
SELECT {_PARSE_CLASSIFY} AS error_type, count(*) AS n
FROM p GROUP BY 1"""

ERROR_RECORDS_Q = f"""WITH lines AS (
{raw_lines_cte()}
), p AS (SELECT line_id, line, str_split(line, ';') AS parts FROM lines),
cls AS (SELECT line_id, line, parts, {_PARSE_CLASSIFY} AS error_type FROM p)
SELECT line AS raw_data,
  CASE
    WHEN len(parts) != 17 THEN 'ParseError: expected 17 columns'
    WHEN TRY_CAST(trim(parts[1]) AS BIGINT) IS NULL
      THEN concat('ParseError: invalid value for ''age'': ', parts[1])
    ELSE concat('ValidationError: age out of range [18, 100]: ',
                CAST(TRY_CAST(trim(parts[1]) AS BIGINT) AS VARCHAR))
  END AS error_message,
  error_type,
  '2026-01-01T00:00:00Z' AS timestamp
FROM cls WHERE error_type != 'valid'"""

# ------------------------------------------------------------ documents

TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"


def _word_shingles(toks: str, n: int) -> str:
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1),"
        f" i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )


DEDUP_EXACT_Q = (
    "SELECT min(doc_id) AS doc_id, count(*) AS n_copies, md5(text) AS text_hash"
    " FROM documents GROUP BY md5(text)"
)

# Twin of operators.corpus.chunk_documents (size=32, stride=32):
# disjoint token windows, short tails kept.
CHUNK_DOCS_Q = f"""WITH t AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), t2 AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
), idx AS (
  SELECT doc_id, toks, n,
         unnest(range(0, GREATEST(
           CAST(ceil((n - 32) / CAST(32.0 AS DOUBLE)) AS INT) + 1, 1))) AS ci
  FROM t2
)
SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
  array_to_string(list_slice(toks, ci * 32 + 1, ci * 32 + 32), ' ') AS chunk_text,
  CAST(LEAST(n - ci * 32, 32) AS INT) AS n_tokens
FROM idx"""

# Twin of operators.dedup.dup_span_stats (n=8, threshold=0.5): same
# per-doc distinct shingles, same 16-hex md5-prefix shuffle key, same
# df >= 2 shared cut and 6-dp-rounded fraction; docs shorter than n
# tokens surface with (0, 0, 0.0, false) via the LEFT JOIN.
DUP_SPANS_Q = f"""WITH s AS (
  SELECT doc_id, unnest(list_distinct({_word_shingles(TOKS, 8)})) AS sh
  FROM documents
), h AS (
  SELECT doc_id, substring(md5(sh), 1, 16) AS hh FROM s
), d AS (
  SELECT hh, CAST(count(*) AS BIGINT) AS df FROM h GROUP BY hh
), p AS (
  SELECT h.doc_id,
    CAST(count(*) AS BIGINT) AS n_shingles,
    CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
  FROM h JOIN d USING (hh) GROUP BY h.doc_id
), f AS (
  SELECT doc.doc_id,
    coalesce(p.n_shingles, 0) AS n_shingles,
    coalesce(p.n_shared, 0) AS n_shared,
    CASE WHEN coalesce(p.n_shingles, 0) > 0
         THEN round(CAST(p.n_shared AS DOUBLE) / p.n_shingles, 6)
         ELSE CAST(0.0 AS DOUBLE) END AS dup_frac
  FROM documents doc LEFT JOIN p ON doc.doc_id = p.doc_id
)
SELECT doc_id, n_shingles, n_shared, dup_frac,
       (dup_frac >= 0.5) AS dup_heavy
FROM f"""

NGRAM_JACCARD_DF_CUTOFF = 20  # mirrors operators.dedup.ngram_jaccard_pairs

NGRAM_JACCARD_Q = f"""WITH sh AS (
  SELECT doc_id, list_distinct({_word_shingles(TOKS, 3)}) AS shingles FROM documents
), inv0 AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE len(shingles) > 0
), cold AS (
  SELECT doc_id, shingle FROM inv0
  WHERE shingle NOT IN (
    SELECT shingle FROM inv0 GROUP BY shingle
    HAVING count(*) > {NGRAM_JACCARD_DF_CUTOFF}
  )
), inv AS (
  SELECT c.doc_id, n.n_sh, c.shingle
  FROM cold c JOIN (SELECT doc_id, count(*) AS n_sh FROM cold GROUP BY doc_id) n
    ON c.doc_id = n.doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
         count(*) AS n_inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter), 6) AS jaccard
FROM pairs
WHERE round(CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter), 6) >= 0.5"""


def minhash_lsh_sql(num_hashes: int = 12, bands: int = 4) -> str:
    rows = num_hashes // bands
    # component i = min over shingles of 8-hex-char chunk i%4 of salted
    # md5 pass i//4 (4 components per md5 — hashing.minhash_components)
    n_passes = (num_hashes + 3) // 4
    passes = ", ".join(
        f"list_transform(shingles, s -> md5('mh{p}:' || s)) AS md{p}"
        for p in range(n_passes)
    )
    comps = ", ".join(
        f"list_min(list_transform(md{i // 4}, m -> substring(m, {1 + 8 * (i % 4)}, 8)))"
        for i in range(num_hashes)
    )
    sig = f"[{comps}]"
    band_exprs = []
    for b in range(bands):
        parts = ", ".join(f"sig[{b * rows + r + 1}]" for r in range(rows))
        band_exprs.append(f"md5(concat_ws('|', 'b{b}', {parts})) AS band{b}")
    band_list = ", ".join(f"band{b}" for b in range(bands))
    matches = (
        f"list_sum(list_transform(range(1, {num_hashes} + 1),"
        " i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))"
    )
    return f"""WITH sh AS (
  SELECT doc_id, list_distinct({_word_shingles(TOKS, 3)}) AS shingles FROM documents
), md AS (
  SELECT doc_id, {passes} FROM sh WHERE len(shingles) > 0
), sigs AS (
  SELECT doc_id, {sig} AS sig FROM md
), banded AS (
  SELECT doc_id, sig, {", ".join(band_exprs)} FROM sigs
), keys AS (
  SELECT doc_id, sig, unnest([{band_list}]) AS band_key FROM banded
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keys a JOIN keys b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       round(CAST({matches} AS DOUBLE) / CAST({num_hashes} AS DOUBLE), 6) AS est_jaccard
FROM cand c JOIN sigs a ON a.doc_id = c.id_a JOIN sigs b ON b.doc_id = c.id_b"""


def dedup_resolve_sql(threshold: float = 0.5) -> str:
    """Twin of ``queries.dedup_resolve``: exact connected components via
    a recursive transitive closure over the thresholded MinHash-LSH
    candidate pairs; canonical id = min reachable id (incl. self).
    The Spark side's min-label propagation converges to the identical
    fixpoint, so values match exactly."""
    return f"""WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({minhash_lsh_sql()}) WHERE est_jaccard >= {threshold}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), walk AS (
  SELECT src, dst AS lbl FROM edges
  UNION
  SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.src = e.dst
), comp AS (
  SELECT src AS id, least(src, min(lbl)) AS canonical FROM walk GROUP BY src
)
SELECT d.doc_id,
       coalesce(c.canonical, d.doc_id) AS canonical_id,
       coalesce(c.canonical, d.doc_id) = d.doc_id AS is_kept
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id"""


def simhash_sql(n_bits: int = 32) -> str:
    # one md5 per token (mds), then n_bits substring votes — mirrors the
    # staged Spark plan (hashing.simhash_bits docstring)
    bits = ", ".join(
        "CASE WHEN list_sum(list_transform(mds, m -> CASE WHEN"
        f" substring(m, {j}, 1) >= '8' THEN 1 ELSE -1 END)) > 0"
        " THEN '1' ELSE '0' END"
        for j in range(1, n_bits + 1)
    )
    return f"""WITH tk AS (
  SELECT doc_id, list_transform(list_distinct({TOKS}), t -> md5(t)) AS mds
  FROM documents
)
SELECT doc_id, concat({bits}) AS simhash FROM tk WHERE len(mds) > 0"""


# ----------------------------------------------------------- embeddings

def _dot(a: str, b: str) -> str:
    """Sequential-order dot product, bit-identical to Spark's
    zip_with+aggregate left fold (0.0 + x1 + x2 + ...)."""
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _cosine(a: str, b: str) -> str:
    dot = _dot(a, b)
    na = f"sqrt({_dot(a, a)})"
    nb = f"sqrt({_dot(b, b)})"
    return (
        f"CASE WHEN {na} * {nb} = 0 THEN CAST(0.0 AS DOUBLE)"
        f" ELSE {dot} / ({na} * {nb}) END"
    )


def _sign_bits(v: str, n_bits: int) -> str:
    return (
        f"array_to_string(list_transform(list_slice({v}, 1, {n_bits}),"
        " x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')"
    )


EMB_NEAR_DUP_Q = f"""WITH e AS (
  SELECT vec_id, embedding AS v, {_sign_bits('embedding', 8)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_cosine('a.v', 'b.v')}, 6) AS cosine
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round({_cosine('a.v', 'b.v')}, 6) >= 0.35"""

ANN_BRUTE_Q = f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  ORDER BY vec_id LIMIT 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         round({_cosine('e.embedding', 'q.qvec')}, 6) AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10"""

def ann_ivf_sql(
    n_centroids: int = 16,
    nprobe: int = 2,
    iters: int = 2,
    dim: int = 64,
    k: int = 10,
    sample_mod: int = 1,
) -> str:
    """Twin of similarity.ivf_topk with TRAINED centroids: the
    ``_kmeans_ctes`` prefix walks the same decimal-exact Lloyd updates
    as ``clustering.train_centroids`` (on the same 1-in-``sample_mod``
    training sample), then cells are assigned over the FULL corpus by
    argmax rounded cosine vs c{iters} (lowest-cid tiebreak) and each
    query probes its ``nprobe`` nearest cells — identical doubles to
    the Spark plan's literal-centroid scorer because the centroid
    components and the left-fold dot/norm arithmetic match bit-for-bit
    in both engines."""
    last = f"c{iters}"
    return f"""{_kmeans_ctes(n_centroids, dim, iters, sample_mod)},
assign AS (
  SELECT e.vec_id, e.embedding,
         (SELECT c.cid FROM {last} c
          ORDER BY round({_cosine('e.embedding', 'c.cvec')}, 6) DESC, c.cid ASC
          LIMIT 1) AS cell
  FROM embeddings e
), q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  ORDER BY vec_id LIMIT 5
), probes AS (
  SELECT query_id, qvec, cid AS cell FROM (
    SELECT q.query_id, q.qvec, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY round({_cosine('q.qvec', 'c.cvec')}, 6) DESC,
                                       c.cid ASC) AS pr
    FROM q CROSS JOIN {last} c
  ) WHERE pr <= {nprobe}
), scored AS (
  SELECT p.query_id, a.vec_id,
         round({_cosine('a.embedding', 'p.qvec')}, 6) AS cosine
  FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id != p.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}"""

def ann_lsh_sql(n_bits: int = 4, k: int = 10) -> str:
    """Twin of ``similarity.lsh_topk`` incl. Hamming-1 multi-probe:
    the query side expands to its bucket plus every one-bit flip."""
    flips = ", ".join(
        f"concat(substring(bucket, 1, {i - 1}),"
        f" CASE WHEN substring(bucket, {i}, 1) = '1' THEN '0' ELSE '1' END,"
        f" substring(bucket, {i + 1}, {n_bits}))"
        for i in range(1, n_bits + 1)
    )
    return f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec,
         {_sign_bits('embedding', n_bits)} AS bucket
  FROM embeddings ORDER BY vec_id LIMIT 5
), qp AS (
  SELECT query_id, qvec,
         unnest(list_prepend(bucket, [{flips}])) AS bucket
  FROM q
), c AS (
  SELECT vec_id, embedding AS v, {_sign_bits('embedding', n_bits)} AS bucket
  FROM embeddings
), scored AS (
  SELECT qp.query_id, c.vec_id, round({_cosine('c.v', 'qp.qvec')}, 6) AS cosine
  FROM c JOIN qp ON c.bucket = qp.bucket WHERE c.vec_id != qp.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}"""

def ann_graph_sql(
    n_centroids: int = 16,
    nprobe: int = 2,
    r_neighbors: int = 8,
    beam: int = 4,
    ef: int = 32,
    hops: int = 3,
    iters: int = 2,
    dim: int = 64,
    k: int = 10,
    train_src_sql: str | None = None,
    final_where: str | None = None,
) -> str:
    """Twin of ``similarity.nsw_topk``: the ``_kmeans_ctes`` coarse
    walk, the within-cell top-R adjacency, one entry point per cell
    (min vec_id), and ``hops`` UNROLLED beam-search rounds — each
    round takes the (cosine desc, vec_id asc) top-``beam`` of the
    previous candidate set, expands through the adjacency, and keeps
    the distinct top-``ef``. Fixed hops + total tie-break orders make
    every intermediate candidate set identical across engines (the
    kmeans/pagerank unrolled-iteration precedent).

    ``train_src_sql`` restricts the Lloyd walk's training set (the
    maintained-index twins train on the pre-existing corpus only);
    assignment, adjacency and the probe always run over the FULL
    corpus — the frozen-quantizer rebuild. ``final_where`` filters
    the candidate set ONLY at the final ranking (the graph tombstone
    semantic: deleted nodes stay traversable, excluded from
    results)."""
    last = f"c{iters}"
    parts = [
        f"""{_kmeans_ctes(n_centroids, dim, iters, src_sql=train_src_sql)},
assign AS (
  SELECT e.vec_id, e.embedding,
         (SELECT c.cid FROM {last} c
          ORDER BY round({_cosine('e.embedding', 'c.cvec')}, 6) DESC, c.cid ASC
          LIMIT 1) AS cell
  FROM embeddings e
), adj AS (
  SELECT src, dst, dvec FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst, b.embedding AS dvec,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY round({_cosine('a.embedding', 'b.embedding')}, 6) DESC,
                                       b.vec_id ASC) AS rn
    FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id != b.vec_id
  ) WHERE rn <= {r_neighbors}
), entries AS (
  SELECT ae.cell, ae.vec_id, ae.embedding AS evec
  FROM assign ae
  JOIN (SELECT cell, min(vec_id) AS vec_id FROM assign GROUP BY cell) m
    ON ae.vec_id = m.vec_id
), q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  ORDER BY vec_id LIMIT 5
), probes AS (
  SELECT query_id, qvec, cid AS cell FROM (
    SELECT q.query_id, q.qvec, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY round({_cosine('q.qvec', 'c.cvec')}, 6) DESC,
                                       c.cid ASC) AS pr
    FROM q CROSS JOIN {last} c
  ) WHERE pr <= {nprobe}
), cand0 AS (
  SELECT p.query_id, p.qvec, en.vec_id,
         round({_cosine('en.evec', 'p.qvec')}, 6) AS cosine
  FROM probes p JOIN entries en ON en.cell = p.cell
  WHERE en.vec_id != p.query_id
)"""
    ]
    prev = "cand0"
    for t in range(1, hops + 1):
        parts.append(
            f""", f{t} AS (
  SELECT query_id, qvec, vec_id FROM (
    SELECT query_id, qvec, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM {prev}
  ) WHERE rn <= {beam}
), n{t} AS (
  SELECT f.query_id, f.qvec, a.dst AS vec_id,
         round({_cosine('a.dvec', 'f.qvec')}, 6) AS cosine
  FROM f{t} f JOIN adj a ON a.src = f.vec_id
  WHERE a.dst != f.query_id
), cand{t} AS (
  SELECT query_id, qvec, vec_id, cosine FROM (
    SELECT query_id, qvec, vec_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM (
      SELECT DISTINCT query_id, qvec, vec_id, cosine FROM (
        SELECT query_id, qvec, vec_id, cosine FROM {prev}
        UNION ALL
        SELECT query_id, qvec, vec_id, cosine FROM n{t}
      )
    )
  ) WHERE rn <= {ef}
)"""
        )
        prev = f"cand{t}"
    fw = f" WHERE {final_where}" if final_where else ""
    parts.append(
        f"""
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM {prev}{fw}
) WHERE rank <= {k}"""
    )
    return "".join(parts)


# ------------------------------------------------------------- text ops

_SQL_PUNCT = PUNCT_CHARS.replace("'", "''")


def _stop_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def _hits(lang: str) -> str:
    return f"len(list_filter(toks, t -> list_contains({_stop_list(lang)}, t)))"


TEXT_STATS_Q = f"""WITH tk AS (
  SELECT doc_id, text, {TOKS} AS toks FROM documents
), st AS (
  SELECT doc_id, text, toks,
    CAST(len(toks) AS INT) AS n_tokens,
    CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE (length(text) - length(translate(text, '{_SQL_PUNCT}', '')))
              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE {_hits('en')} / CAST(len(toks) AS DOUBLE) END AS stopword_ratio
  FROM tk
)
SELECT doc_id, n_tokens, round(punct_ratio, 6) AS punct_ratio,
  round(stopword_ratio, 6) AS stopword_ratio,
  round(
    CAST(0.4 AS DOUBLE) * least(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
    + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - least(punct_ratio * CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE)))
    + CAST(0.3 AS DOUBLE) * least(stopword_ratio / CAST(0.4 AS DOUBLE), CAST(1.0 AS DOUBLE)),
  6) AS quality_score
FROM st"""


def _lang_sel_sql() -> str:
    """Per-language stopword-density columns s_<lang> (from a CTE
    exposing ``toks``)."""
    scores = {
        lang: (
            f"CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)"
            f" ELSE {_hits(lang)} / CAST(len(toks) AS DOUBLE) END"
        )
        for lang in LANG_ORDER
    }
    return ", ".join(f"{expr} AS s_{lang}" for lang, expr in scores.items())


def _lang_case_sql() -> str:
    """Argmax CASE over the s_<lang> columns (ties break by LANG_ORDER)."""
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_ORDER) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN 'und'"
    for lang in LANG_ORDER:
        case += f" WHEN s_{lang} = {best} THEN '{lang}'"
    return case + " ELSE 'und' END"


def langid_sql() -> str:
    return f"""WITH tk AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), sc AS (SELECT doc_id, {_lang_sel_sql()} FROM tk)
SELECT doc_id, {_lang_case_sql()} AS lang_id FROM sc"""


FINGERPRINT_Q = """SELECT doc_id,
  list_min(list_transform(range(1, greatest(length(lower(text)) - 7, 0) + 1),
           i -> md5(substring(lower(text), i, 8)))) AS fingerprint
FROM documents WHERE length(text) >= 8"""

# BPE-ish pre-tokenization (functions.texttools.BPE_TOKEN_PATTERN —
# keep the literal in sync; restricted to Java-regex/RE2-identical
# constructs)
BPE_TOKEN_STATS_Q = r"""SELECT doc_id,
  CAST(len({toks}) AS INT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
       AS INT) AS n_bpe_tokens
FROM documents""".replace("{toks}", TOKS)

_QUALITY = (
    "CAST(0.4 AS DOUBLE) * least(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))"
    " + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - least(punct_ratio * CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE)))"
    " + CAST(0.3 AS DOUBLE) * least(stopword_ratio / CAST(0.4 AS DOUBLE), CAST(1.0 AS DOUBLE))"
)


def corpus_filter_sql(min_quality: float = 0.5, lang: str = "en") -> str:
    """Twin of operators.corpus.quality_filtered_corpus: quality cut on
    the 6-dp-rounded score, language argmax filter, exact dedup keeping
    the lowest doc_id."""
    return f"""WITH tk AS (
  SELECT doc_id, text, {TOKS} AS toks FROM documents
), st AS (
  SELECT doc_id, text, toks,
    CAST(len(toks) AS INT) AS n_tokens,
    CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE (length(text) - length(translate(text, '{_SQL_PUNCT}', '')))
              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE {_hits('en')} / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
    {_lang_sel_sql()}
  FROM tk
), q AS (
  SELECT doc_id, text, round({_QUALITY}, 6) AS q,
         {_lang_case_sql()} AS lang FROM st
), f AS (
  SELECT * FROM q WHERE q >= {min_quality} AND lang = '{lang}'
)
SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
       min(q) AS quality_score, md5(text) AS text_hash
FROM f GROUP BY md5(text)"""


# Twin of streaming.docs.quality_gate drained as a stream: the gate is
# stateless (pure per-row expressions), so the streaming availableNow
# result over the bounded drop equals this batch scan row-for-row —
# the same batch-equivalence bar stream_window_agg meets.
STREAM_QUALITY_GATE_Q = f"""WITH tk AS (
  SELECT doc_id, text, {TOKS} AS toks FROM documents
), st AS (
  SELECT doc_id, text, toks,
    CAST(len(toks) AS INT) AS n_tokens,
    CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE (length(text) - length(translate(text, '{_SQL_PUNCT}', '')))
              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE {_hits('en')} / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
    {_lang_sel_sql()}
  FROM tk
)
SELECT doc_id, {_lang_case_sql()} AS lang_id, n_tokens,
       round({_QUALITY}, 6) AS quality_score,
       (round({_QUALITY}, 6) >= 0.5) AS kept
FROM st"""


def curation_pipeline_sql(
    min_quality: float = 0.5, test_rate: int = 16, val_rate: int = 32
) -> str:
    """Twin of operators.corpus.curation_pipeline: the corpus_filter
    quality/lang scoring, the q_pass flag, exact-dedup keep_id via
    md5(text) group-min, and the split_manifest md5-range split —
    composed into one per-doc verdict row."""
    from .operators.sampling import threshold_hex

    t16, t32 = threshold_hex(test_rate), threshold_hex(val_rate)
    return f"""WITH tk AS (
  SELECT doc_id, text, {TOKS} AS toks FROM documents
), st AS (
  SELECT doc_id, text, toks,
    CAST(len(toks) AS INT) AS n_tokens,
    CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE (length(text) - length(translate(text, '{_SQL_PUNCT}', '')))
              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE {_hits('en')} / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
    {_lang_sel_sql()}
  FROM tk
), q AS (
  SELECT doc_id, text, round({_QUALITY}, 6) AS quality_score,
         {_lang_case_sql()} AS lang FROM st
), flags AS (
  SELECT doc_id, text, quality_score, lang,
         (quality_score >= {min_quality}) AS q_pass FROM q
), keep AS (
  SELECT md5(text) AS h, min(doc_id) AS keep_id
  FROM flags WHERE q_pass GROUP BY md5(text)
), j AS (
  SELECT f.*, k.keep_id FROM flags f LEFT JOIN keep k ON md5(f.text) = k.h
)
SELECT doc_id, lang, quality_score, q_pass,
  (q_pass AND doc_id = keep_id) AS kept,
  CASE WHEN NOT q_pass THEN 'rejected_quality'
       WHEN doc_id <> keep_id THEN 'duplicate'
       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{t16}' THEN 'test'
       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{t32}' THEN 'val'
       ELSE 'train' END AS stage
FROM j"""


# ------------------------------------------------------------ relational

_DEC_SUM = "round(CAST(sum(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE), 4)"


def _dec_sum_sql(expr: str, alias: str) -> str:
    return _DEC_SUM.format(expr=expr) + f" AS {alias}"


REVENUE_BY_NATION_Q = f"""SELECT n_name,
  count(*) AS n_items,
  {_dec_sum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name"""

# Twin of operators.relational.top_supplier (TPC-H Q15 shape): same
# quarter filter, DECIMAL revenue, argmax via scalar-subquery equality.
TOP_SUPPLIER_Q = """WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
           AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       round(CAST(r.rev AS DOUBLE), 4) AS total_revenue
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.rev = (SELECT max(rev) FROM rev)"""

# Twin of operators.relational.nation_volume (TPC-H Q7 shape): the
# cross-border trade matrix by ship year, DECIMAL revenue.
NATION_VOLUME_Q = """SELECT n2.n_name AS supp_nation,
       n1.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND n2.n_name <> n1.n_name
GROUP BY 1, 2, 3"""

# Twin of operators.profiling.moments_profile: identical milli-unit
# quantization, DECIMAL(38,0) power sums (the squaring/cubing happens
# in decimal — y³ would wrap int64), the same fixed double assembly.
MOMENTS_Q = """WITH base AS (
  SELECT event_type,
         CAST(round(CAST(value AS DECIMAL(18,6)) * 1000, 0) AS BIGINT)
           AS y
  FROM events WHERE value IS NOT NULL
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(y AS DECIMAL(38,0))) AS s1,
         sum(CAST(y * y AS DECIMAL(38,0))) AS s2,
         sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))
             * CAST(y AS DECIMAL(38,0))) AS s3,
         sum(CAST(y * y AS DECIMAL(38,0))
             * CAST(y * y AS DECIMAL(38,0))) AS s4
  FROM base GROUP BY event_type
), r AS (
  SELECT event_type, n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS r1,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
  FROM agg
), m AS (
  SELECT event_type, n, r1,
         r2 - r1 * r1 AS m2,
         r3 - 3.0 * r1 * r2 + 2.0 * r1 * r1 * r1 AS m3,
         r4 - 4.0 * r1 * r3 + 6.0 * r1 * r1 * r2
            - 3.0 * r1 * r1 * r1 * r1 AS m4
  FROM r
)
SELECT event_type, n,
       round(r1 / 1000.0, 6) AS mean,
       round(sqrt(m2) / 1000.0, 6) AS std,
       CASE WHEN m2 > 0 THEN round(m3 / (m2 * sqrt(m2)), 6) END
         AS skewness,
       CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3.0, 6) END
         AS kurtosis_excess
FROM m"""

PRICING_SUMMARY_Q = f"""SELECT l_returnflag, l_linestatus,
  {_dec_sum_sql("l_quantity", "sum_qty")},
  {_dec_sum_sql("l_extendedprice", "sum_base_price")},
  {_dec_sum_sql("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
    AS avg_qty,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1997-06-30 00:00:00'
GROUP BY l_returnflag, l_linestatus"""

BRAND_REVENUE_Q = f"""SELECT n_name, p_brand,
  count(*) AS n_items,
  {_dec_sum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
GROUP BY n_name, p_brand"""

ROLLUP_ORDERS_Q = f"""SELECT o_orderstatus, o_orderpriority,
  count(*) AS n_orders,
  {_dec_sum_sql("o_totalprice", "total_price")}
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"""

# Twin of streaming.events.stateful_user_totals: the final state of the
# stateful streaming operator must equal the batch per-user totals.
STATEFUL_TOTALS_Q = """SELECT user_id, count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY user_id"""

# Twin of operators.skew.salted_counts_sums: the whole point of the
# two-phase salted aggregate is that it equals the PLAIN group-by.
SALTED_TOTALS_Q = """SELECT event_type, count(*) AS n_rows,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY event_type"""

MOVING_AVG_Q = """SELECT user_id, event_id,
  round(CAST(sum(CAST(value AS DECIMAL(18,6)))
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
  4) AS moving_avg
FROM events"""

TRAILING_HOUR_Q = """SELECT event_id, user_id,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
      PARTITION BY user_id
      ORDER BY CAST(epoch_us(ts) AS DOUBLE) / 1000000.0
      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
    AS hour_total
FROM events"""

REPEAT_CUSTOMERS_Q = """SELECT o_custkey FROM orders
WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'"""

ABOVE_AVG_Q = """SELECT o_orderkey, o_custkey, o_totalprice, cust_avg FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
    (CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
          OVER (PARTITION BY o_custkey) * 10000 AS BIGINT)
     // count(*) OVER (PARTITION BY o_custkey)) / CAST(10000.0 AS DOUBLE) AS cust_avg
  FROM orders
) WHERE o_totalprice > cust_avg"""

LAPSED_CUSTOMERS_Q = """SELECT o_custkey FROM orders
WHERE o_orderdate < TIMESTAMP '2000-07-01 00:00:00'
EXCEPT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '2000-07-01 00:00:00'"""

LISTAGG_USERS_Q = """WITH d AS (
  SELECT DISTINCT event_type, user_id FROM events
), agg AS (
  SELECT event_type,
         string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id) AS users_csv
  FROM d GROUP BY event_type
), cnt AS (
  SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
)
SELECT agg.event_type, users_csv, n_events FROM agg JOIN cnt USING (event_type)"""

DISTINCT_USERS_Q = """SELECT event_type,
  count(DISTINCT user_id) AS n_users,
  count(*) AS n_events
FROM events GROUP BY event_type"""

# Twin of streaming.events.stream_dedup_totals: the stream plays every
# event twice; after dropDuplicatesWithinWatermark the per-type totals
# must equal the plain (single-copy) batch table.
STREAM_DEDUP_Q = """SELECT event_type, count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY event_type"""

CUBE_ORDERS_Q = f"""SELECT o_orderstatus, o_orderpriority,
  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
  count(*) AS n_orders,
  {_dec_sum_sql("o_totalprice", "total_price")}
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)"""

BIG_SPENDERS_Q = """SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 480000.0)"""

NO_ORDERS_Q = """SELECT c_custkey, c_name, c_acctbal FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')"""

PRICE_PERCENTILES_Q = """SELECT l_returnflag,
  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
  round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
  count(*) AS n_items
FROM lineitem GROUP BY l_returnflag"""

# Twin of relational.asof_last_order: latest order at-or-before each
# event, ties broken by highest orderkey (rank formulation — DuckDB's
# native ASOF JOIN has no deterministic tiebreak).
ASOF_JOIN_Q = """SELECT event_id, user_id, ts, last_orderkey, last_totalprice FROM (
  SELECT e.event_id, e.user_id, e.ts,
         o.o_orderkey AS last_orderkey, o.o_totalprice AS last_totalprice,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
) WHERE rn = 1"""

# Twin of relational.multires_rollup: both resolutions from raw rows —
# equivalent because the Spark side re-aggregates exact DECIMAL partials.
MULTIRES_ROLLUP_Q = """SELECT 'hour' AS resolution,
  CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_epoch, event_type,
  count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day' AS resolution,
  CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS bucket_epoch, event_type,
  count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 2, 3"""

PIVOT_DAILY_Q = """SELECT
  CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'click') AS DOUBLE), 4) AS click_sum,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'view') AS DOUBLE), 4) AS view_sum,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'purchase') AS DOUBLE), 4) AS purchase_sum,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'signup') AS DOUBLE), 4) AS signup_sum,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'error') AS DOUBLE), 4) AS error_sum
FROM events GROUP BY 1"""

PRICE_HISTOGRAM_Q = f"""SELECT
  CAST(LEAST(FLOOR(o_totalprice / CAST(25000.0 AS DOUBLE)), 19) AS INT) AS bucket,
  count(*) AS n_orders,
  {_dec_sum_sql("o_totalprice", "total_price")}
FROM orders GROUP BY 1"""

NTILE_DECILES_Q = """SELECT decile,
  count(*) AS n_customers,
  round(min(c_acctbal), 2) AS min_bal,
  round(max(c_acctbal), 2) AS max_bal
FROM (
  SELECT c_custkey, c_acctbal,
         ntile(10) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS decile
  FROM customer
) GROUP BY decile"""

PROPS_STATS_Q = """SELECT event_type,
  count(CAST(props->>'k' AS INT)) AS n_with_k,
  min(CAST(props->>'k' AS INT)) AS min_k,
  max(CAST(props->>'k' AS INT)) AS max_k,
  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type"""

REGR_SLOPE_Q = """SELECT user_id,
  round(regr_slope(value,
        CAST(epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01') AS DOUBLE)
        / 86400000000.0), 4) + 0.0 AS slope_per_day,
  count(*) AS n_events
FROM events GROUP BY user_id"""

# Twin of operators.grouped.zscore_by_user (population stddev;
# zero-variance and single-row groups -> 0.0).
ZSCORE_Q = """SELECT event_id, user_id,
  round(CASE WHEN stddev_pop(value) OVER w > 0
             THEN (value - avg(value) OVER w) / (stddev_pop(value) OVER w)
             ELSE 0.0 END, 4) AS z
FROM events WINDOW w AS (PARTITION BY user_id)"""

RANGE_JOIN_Q = """SELECT e.event_id, e.user_id, count(c.event_id) AS n_followers
FROM events e LEFT JOIN events c
  ON c.user_id = e.user_id AND c.ts >= e.ts
 AND c.ts <= e.ts + INTERVAL 24 HOURS AND c.event_id <> e.event_id
GROUP BY e.event_id, e.user_id"""

# Twin of streaming.events.stream_interval_join_counts: the INNER form
# (stream-stream joins emit matches only — zero-follower events absent).
STREAM_INTERVAL_JOIN_Q = """SELECT e.event_id, e.user_id,
  count(*) AS n_followers
FROM events e JOIN events c
  ON c.user_id = e.user_id AND c.ts >= e.ts
 AND c.ts <= e.ts + INTERVAL 24 HOURS AND c.event_id <> e.event_id
GROUP BY e.event_id, e.user_id"""

# --------------------------------------------------------------- events

WINDOW_AGG_Q = """SELECT
  CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_epoch,
  event_type,
  count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2"""

#   Gap test + session bounds in INTEGER MICROSECONDS (epoch_us here,
#   unix_micros in Spark) — exact in both engines, unlike epoch()
#   doubles, whose CAST-to-BIGINT *rounds* in DuckDB but unix_timestamp
#   *floors* in Spark.
SESSIONIZE_Q = """WITH g AS (
  SELECT user_id, event_id, ts,
    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, event_id,
    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM g
)
SELECT user_id, session_seq, count(*) AS n_events,
  epoch_us(min(ts)) // 1000000 AS session_start_epoch,
  epoch_us(max(ts)) // 1000000 AS session_end_epoch
FROM s GROUP BY user_id, session_seq"""

TOPK_PER_GROUP_Q = """WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3"""

# ----------------------------------------------------------- multimodal

# The media twins recompute the container fields from the generator's
# arithmetic (binaryops.synthesize_media builds real PNG/WAV
# containers whose header fields are functions of the body length), so
# a hash match proves the Spark side's byte-offset header PARSE
# exactly inverts the synthesis. PNG container overhead = 57 bytes
# around the body, WAV = 44 (binaryops.PNG_OVERHEAD/WAV_OVERHEAD).
MEDIA_META_Q = """SELECT doc_id AS media_id,
  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS mime,
  CAST(octet_length(encode(text))
       + CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 44 END AS BIGINT) AS n_bytes,
  sha256(text) AS sha256
FROM documents"""

FRAME_SAMPLE_Q = """SELECT doc_id AS media_id,
  unnest(range(0,
    greatest(octet_length(encode(text))
             + CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 44 END - 1, 0) + 1,
    1024)) AS frame_offset
FROM documents"""

# Twin of multimodal.binaryops.extract_features: the Spark side parses
# the real PNG IHDR / WAV fmt+data chunks; this twin recomputes the
# same fields from the synthesis formulas (h = 32 + nb % 97,
# w = 32 + nb % 89, truecolor => 3 channels; rate = 8000 + (nb % 8)
# * 1000, 16-bit mono PCM => n_samples = nb // 2).
MEDIA_FEATURES_Q = """WITH m AS (
  SELECT doc_id AS media_id,
    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
    octet_length(encode(text)) AS nb
  FROM documents
)
SELECT media_id, kind,
  CASE WHEN kind = 'image' THEN CAST(32 + nb % 97 AS INT) END AS height,
  CASE WHEN kind = 'image' THEN CAST(32 + nb % 89 AS INT) END AS width,
  CASE WHEN kind = 'image' THEN CAST(3 AS INT)
       ELSE CAST(1 AS INT) END AS channels,
  CASE WHEN kind = 'audio' THEN CAST(8000 + (nb % 8) * 1000 AS INT)
       END AS sample_rate,
  CASE WHEN kind = 'audio' THEN CAST(16 AS INT) END AS bits_per_sample,
  CASE WHEN kind = 'audio'
       THEN CAST((nb // 2) * 1000 // (8000 + (nb % 8) * 1000) AS BIGINT)
       END AS duration_ms,
  CAST(nb + CASE WHEN kind = 'image' THEN 57 ELSE 44 END AS BIGINT) AS n_bytes
FROM m"""


# ------------------------------------------------ round 3: curation ops

VOCAB_TOPN_Q = f"""WITH tk AS (
  SELECT unnest({TOKS}) AS token FROM documents
)
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM tk GROUP BY token ORDER BY n DESC, token ASC LIMIT 100"""

TFIDF_TERMS_Q = f"""WITH terms AS (
  SELECT doc_id, unnest({TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM terms GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY term
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_docs,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df_docs), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, df_docs, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS term_rank
  FROM scored
)
SELECT doc_id, term, tf, df_docs, tfidf, CAST(term_rank AS INT) AS term_rank
FROM ranked WHERE term_rank <= 3"""


def pii_redact_sql() -> str:
    """Twin of ``queries.pii_redact`` — plants the identical synthetic
    email + phone per doc, then strips them with the same
    (Java-regex/RE2-portable) patterns; 'g' = replace all, Spark's
    default."""
    from .functions.texttools import EMAIL_PATTERN, PHONE_PATTERN

    return f"""SELECT doc_id,
  regexp_replace(regexp_replace(
    concat('user', CAST(doc_id AS VARCHAR), '@mail-', lang, '.com call 555-',
           lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-0199 ', text),
    '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
    '{PHONE_PATTERN}', '<PHONE>', 'g') AS clean_text
FROM documents"""


def stratified_sample_sql() -> str:
    """Twin of ``queries.stratified_sample``: thresholds come from the
    same ``sampling.threshold_hex`` so the rates can never drift."""
    from .operators.sampling import threshold_hex

    rates = {"en": 192, "de": 128, "fr": 128, "es": 128}
    case = "CASE lang " + " ".join(
        f"WHEN '{lang}' THEN '{threshold_hex(num)}'"
        for lang, num in sorted(rates.items())
    ) + f" ELSE '{threshold_hex(64)}' END"
    return f"""SELECT doc_id, lang, source FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < {case}"""


def dataset_mix_sql() -> str:
    from .operators.sampling import threshold_hex

    return f"""SELECT doc_id, lang, source, 'english' AS mix_part
FROM documents
WHERE lang = 'en'
  AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{threshold_hex(96)}'
UNION ALL
SELECT doc_id, lang, source, 'multilingual' AS mix_part
FROM documents
WHERE lang <> 'en'
  AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{threshold_hex(224)}'"""


PCT_RANK_Q = """SELECT c_custkey, c_nationkey, c_acctbal,
  round(percent_rank() OVER w, 6) AS pct_rank,
  round(cume_dist() OVER w, 6) AS cume_dist
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)"""

GROUPING_SETS_Q = f"""SELECT o_orderstatus, o_orderpriority,
  count(*) AS n_orders,
  {_dec_sum_sql("o_totalprice", "sum_price")}
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""

# Twin of streaming.events.stream_static_join: the stream-static
# broadcast enrichment must equal the plain batch join + group-by.
STREAM_STATIC_JOIN_Q = f"""SELECT c_mktsegment,
  count(*) AS n_events,
  {_dec_sum_sql("value", "sum_value")}
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment"""


# -------------------------------------------- round 3: time-series ops

RESAMPLE_FFILL_Q = """WITH hourly AS (
  SELECT user_id,
         CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hour_epoch,
         CAST(count(*) AS BIGINT) AS n_events,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
           AS avg_value
  FROM events GROUP BY user_id, hour_epoch
), spans AS (
  SELECT user_id, min(hour_epoch) AS h0, max(hour_epoch) AS h1
  FROM hourly GROUP BY user_id
), spine AS (
  SELECT user_id, unnest(range(h0, h1 + 1)) AS hour_epoch FROM spans
)
SELECT s.user_id, s.hour_epoch,
  coalesce(h.n_events, 0) AS n_events,
  last_value(h.avg_value IGNORE NULLS) OVER (
    PARTITION BY s.user_id ORDER BY s.hour_epoch
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM spine s LEFT JOIN hourly h
  ON s.user_id = h.user_id AND s.hour_epoch = h.hour_epoch"""

FUNNEL_Q = """WITH s1 AS (
  SELECT user_id, CAST(epoch_us(min(ts)) AS BIGINT) // 1000000 AS t_stage1
  FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(CAST(epoch_us(e.ts) AS BIGINT) // 1000000) AS t_stage2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click'
    AND CAST(epoch_us(e.ts) AS BIGINT) // 1000000 > s1.t_stage1
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(CAST(epoch_us(e.ts) AS BIGINT) // 1000000) AS t_stage3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase'
    AND CAST(epoch_us(e.ts) AS BIGINT) // 1000000 > s2.t_stage2
  GROUP BY e.user_id
)
SELECT s1.user_id, s1.t_stage1, s2.t_stage2, s3.t_stage3,
  CAST(CASE WHEN s3.t_stage3 IS NOT NULL THEN 3
            WHEN s2.t_stage2 IS NOT NULL THEN 2
            ELSE 1 END AS INT) AS funnel_depth
FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id"""

COHORT_RETENTION_Q = """WITH days AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day
  FROM events
), first AS (
  SELECT user_id, min(day) AS first_day FROM days GROUP BY user_id
)
SELECT first_day // 7 AS cohort_week,
       (day - first_day) // 7 AS week_offset,
       CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_active
FROM days d JOIN first f ON d.user_id = f.user_id
WHERE (day - first_day) // 7 < 8
GROUP BY cohort_week, week_offset"""


# -------------------------------------- round 3b: packing, contamination

# Twin of operators.packing.pack_documents (budget=256, shard=lang).
# Integer division on both sides so the pack boundary can't float-drift.
SEQ_PACK_Q = f"""WITH tk AS (
  SELECT doc_id, lang, CAST(len({TOKS}) AS BIGINT) AS n_tok FROM documents
), cum AS (
  SELECT doc_id, lang, n_tok,
    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tk
)
SELECT lang, CAST((cum - n_tok) // 256 AS BIGINT) AS pack_id,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
  min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM cum GROUP BY lang, pack_id"""

# Twin of operators.contamination.benchmark_overlap (n=3, bench_mod=97).
CONTAMINATION_Q = f"""WITH sh AS (
  SELECT doc_id, list_distinct({_word_shingles(TOKS, 3)}) AS shingles FROM documents
), inv AS (
  SELECT doc_id, CAST(len(shingles) AS INT) AS n_sh,
         unnest(shingles) AS shingle
  FROM sh WHERE len(shingles) > 0
), bench AS (
  SELECT DISTINCT shingle FROM inv WHERE doc_id % 97 = 0
)
SELECT doc_id, n_sh, CAST(count(*) AS BIGINT) AS n_shared
FROM inv JOIN bench USING (shingle)
WHERE doc_id % 97 <> 0
GROUP BY doc_id, n_sh"""


# ------------------------------------------- round 3c: CDC, fuzzy match

# Twin of operators.cdc.snapshot_diff over a synthetic "next snapshot"
# of customer: keys %10==1 deleted, %10==0 get +100 balance (updates),
# %10==2 re-inserted under key+10000000 (inserts).
SCD2_MERGE_Q = """WITH cur AS (
  SELECT c_custkey AS k, TRUE AS has_old, c_acctbal AS bal_old FROM customer
), nxt AS (
  SELECT c_custkey AS k, TRUE AS has_new,
         CASE WHEN c_custkey % 10 = 0
              THEN c_acctbal + CAST(100.0 AS DOUBLE) ELSE c_acctbal END AS bal_new
  FROM customer WHERE c_custkey % 10 <> 1
  UNION ALL
  SELECT c_custkey + 10000000, TRUE, c_acctbal
  FROM customer WHERE c_custkey % 10 = 2
)
SELECT coalesce(c.k, n.k) AS c_custkey,
  CASE WHEN c.has_old IS NULL THEN 'insert'
       WHEN n.has_new IS NULL THEN 'delete'
       WHEN c.bal_old IS DISTINCT FROM n.bal_new THEN 'update'
       ELSE 'unchanged' END AS op,
  c.bal_old AS c_acctbal_old, n.bal_new AS c_acctbal_new
FROM cur c FULL OUTER JOIN nxt n ON c.k = n.k"""

# Twin of operators.fuzzy.fuzzy_name_pairs: composite blocking key
# (first token, floor(len/3) length band), hot composite blocks
# (> 100k rows) dropped whole exactly like the Spark side, levenshtein
# 1..3 (distance 0 is exact dedup's job). The Spark ±1-band probe is
# expressed here as abs(band diff) <= 1 — same pair set; the band
# restriction itself discards nothing the distance threshold keeps
# (|len diff| <= 3 ⇒ adjacent bands at width 3).
FUZZY_JOIN_Q = """WITH p AS (
  SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS tok,
         CAST(floor(length(p_name) / 3.0) AS BIGINT) AS band
  FROM part
), cold AS (
  SELECT p.* FROM p
  JOIN (SELECT tok, band FROM p GROUP BY tok, band
        HAVING count(*) <= 100000) sz
  ON p.tok = sz.tok AND p.band = sz.band
)
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
FROM cold a JOIN cold b
  ON a.tok = b.tok AND abs(a.band - b.band) <= 1
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3"""


# ------------------------------- round 3d: reshape + robust statistics

# Twin of relational.unpivot_pricing (UNION ALL is the portable-ANSI
# formulation of UNPIVOT; Spark side uses the native map-only unpivot).
UNPIVOT_PRICING_Q = """WITH wide AS (
  SELECT l_returnflag,
    round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_qty,
    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_price
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
UNION ALL
SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM wide"""

# Twin of relational.intersect_active_customers.
INTERSECT_CUSTS_Q = """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999"""

# Twin of relational.winsorized_prices.
WINSORIZE_Q = """WITH b AS (
  SELECT l_returnflag,
    round(quantile_cont(l_extendedprice, 0.01), 4) AS p01,
    round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
  FROM lineitem GROUP BY l_returnflag
), c AS (
  SELECT l.l_returnflag,
    least(greatest(l_extendedprice, p01), p99) AS w,
    CASE WHEN l_extendedprice < p01 THEN 1 ELSE 0 END AS lo,
    CASE WHEN l_extendedprice > p99 THEN 1 ELSE 0 END AS hi
  FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
)
SELECT l_returnflag,
  round(CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_winsorized,
  CAST(sum(lo) AS BIGINT) AS n_clipped_low,
  CAST(sum(hi) AS BIGINT) AS n_clipped_high,
  count(*) AS n_items
FROM c GROUP BY l_returnflag"""

# Twin of relational.mad_outliers (k = 3 * 1.4826).
MAD_OUTLIERS_Q = """WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
), mad AS (
  SELECT event_type, max(med) AS med, round(quantile_cont(adev, 0.5), 4) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type, max(m.med) AS med, max(m.mad) AS mad,
  CAST(sum(CASE WHEN d.adev > CAST(4.4478 AS DOUBLE) * m.mad
           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  count(*) AS n_events
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type"""


# ------------------------------------------------- round 3e: pagerank


def pagerank_sql(iters: int = 3) -> str:
    """Unrolled-CTE twin of operators.graph.pagerank: identical
    truncate-to-12dp contributions (floor(x*1e12)/1e12 — tie-free,
    unlike round, so bit-deterministic across engines), exact DECIMAL
    sums, same damping."""

    def t12(expr: str) -> str:
        return f"floor(({expr}) * 1e12) / 1e12"

    parts = [
        f"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
ed AS (SELECT e0.src, e0.dst, d.deg FROM edges e0 JOIN deg d ON e0.src = d.src),
r0 AS (SELECT src AS node, {t12('CAST(1.0 AS DOUBLE) / nn.n')} AS r
       FROM deg CROSS JOIN nn)"""
    ]
    for k in range(1, iters + 1):
        newr = (
            "CAST(0.15 AS DOUBLE) / max(nn.n) + CAST(0.85 AS DOUBLE)"
            " * CAST(sum(CAST(" + t12("p.r / e.deg") + " AS DECIMAL(32,12))) AS DOUBLE)"
        )
        parts.append(
            f""",
r{k} AS (
  SELECT e.dst AS node, {t12(newr)} AS r
  FROM ed e JOIN r{k - 1} p ON e.src = p.node CROSS JOIN nn
  GROUP BY e.dst
)"""
        )
    parts.append(f"\nSELECT node, r FROM r{iters}")
    return "".join(parts)


def hits_sql(iters: int = 2) -> str:
    """Unrolled-CTE twin of operators.graph.hits: same bipartite
    customer->part edge list, the identical trunc-12dp / DECIMAL-sum /
    double-sqrt ladder per half-step, hubs and authorities unioned
    from the final iteration."""

    def t12(expr: str) -> str:
        return f"floor(({expr}) * 1e12) / 1e12"

    dsum = "CAST(sum(CAST({x} AS DECIMAL(32,12))) AS DOUBLE)"
    parts = [
        """WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
h0 AS (SELECT DISTINCT c AS node, CAST(1.0 AS DOUBLE) AS score FROM edges)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
a{k}r AS (
  SELECT e.p, {dsum.format(x="h.score")} AS s
  FROM edges e JOIN h{k - 1} h ON e.c = h.node GROUP BY e.p
),
a{k}n AS (SELECT sqrt({dsum.format(x=t12("s * s"))}) AS n2 FROM a{k}r),
a{k} AS (SELECT p AS node,
                {t12("s / (SELECT n2 FROM a" + str(k) + "n)")} AS score
         FROM a{k}r),
h{k}r AS (
  SELECT e.c, {dsum.format(x="a.score")} AS s
  FROM edges e JOIN a{k} a ON e.p = a.node GROUP BY e.c
),
h{k}n AS (SELECT sqrt({dsum.format(x=t12("s * s"))}) AS n2 FROM h{k}r),
h{k} AS (SELECT c AS node,
                {t12("s / (SELECT n2 FROM h" + str(k) + "n)")} AS score
         FROM h{k}r)"""
        )
    parts.append(
        f"""
SELECT 'authority' AS role, node, score FROM a{iters}
UNION ALL
SELECT 'hub' AS role, node, score FROM h{iters}"""
    )
    return "".join(parts)


HITS_Q = hits_sql()



# -------------------------------- round 3f: streaming left-outer join

# Twin of streaming.events.stream_left_interval_join_counts: the batch
# left range join, restricted to what a stream stopped mid-watermark
# can have emitted — matches always (they emit immediately); zero-
# follower rows only once the watermark (max ts - 1h) passed the end
# of their join window (ts + 24h), i.e. ts + 25h < max ts.
STREAM_LEFT_INTERVAL_JOIN_Q = """WITH e AS (
  SELECT event_id, user_id, ts FROM events
), mx AS (SELECT max(ts) AS mt FROM e)
SELECT l.event_id, l.user_id, CAST(count(r.event_id) AS BIGINT) AS n_followers
FROM e l CROSS JOIN mx LEFT JOIN e r ON l.user_id = r.user_id
  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 24 HOURS
  AND l.event_id <> r.event_id
GROUP BY l.event_id, l.user_id, l.ts, mx.mt
HAVING count(r.event_id) > 0 OR l.ts + INTERVAL 25 HOURS < mx.mt"""


# ------------------------------ round 3g: skew join + decay features

# Twin of operators.skew.salted_broadcast_replicate_join composed into
# a per-segment rollup: the salted (key, salt) join must be row-
# identical to this plain join.
SALTED_JOIN_Q = """SELECT c_mktsegment,
  count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c_mktsegment"""

# Twin of operators.timeseries.half_life_decayed_totals (origin
# 2024-03-01, half-life 7 days, decay quantized to whole half-lives so
# 2^k is exact in both engines; trunc-12dp + DECIMAL sum parity).
DECAY_TOTALS_Q = """WITH d AS (
  SELECT user_id,
    floor((value / pow(CAST(2.0 AS DOUBLE),
      least(greatest(CAST(date_diff('day', CAST(ts AS DATE), DATE '2024-03-01')
                     AS BIGINT) // 7, 0), 50))) * 1e12) / 1e12 AS c
  FROM events
)
SELECT user_id,
  round(CAST(sum(CAST(c AS DECIMAL(32,12))) AS DOUBLE), 6) AS decayed_value
FROM d GROUP BY user_id"""


# Twin of streaming.events.stream_sessionize_append: the batch
# sessionization restricted to sessions CLOSED before the final
# watermark — a session emits once the watermark (max ts - 1 min)
# strictly passes its window end (last event + 30 min gap). Emitted
# sessions are a per-user prefix, so the 0-based session_seq numbering
# agrees with the batch twin's. Calibrated exact at sf0.001 and
# sf0.01 (no exact-boundary gaps in the testdata; see the boundary
# note on stream_sessionize about gap == 1800.000000s).
SESSIONIZE_APPEND_Q = """WITH g AS (
  SELECT user_id, event_id, ts,
    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, event_id,
    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM g
), sess AS (
  SELECT user_id, session_seq, count(*) AS n_events,
    epoch_us(min(ts)) // 1000000 AS session_start_epoch,
    epoch_us(max(ts)) // 1000000 AS session_end_epoch,
    max(epoch_us(ts)) AS end_us
  FROM s GROUP BY user_id, session_seq
), mx AS (SELECT max(epoch_us(ts)) AS mt FROM events)
SELECT user_id, session_seq, n_events, session_start_epoch, session_end_epoch
FROM sess, mx WHERE end_us + 1800000000 + 60000000 < mt"""


# ------------------------------------------- round 3h: kmeans oracle


def _kmeans_sqdist(e: str, c: str) -> str:
    """Squared-L2 fold mirroring Spark's ``aggregate(zip_with(...),
    0.0, +)`` left fold (0.0 + x1 is bit-neutral, so DuckDB's
    ``list_reduce`` matches). list_zip form: the outer (correlated)
    column must enter the lambda as its INPUT list — DuckDB cannot
    bind an outer table reference inside a range-indexed lambda in
    this position."""
    return (
        f"list_reduce(list_transform(list_zip({e}, {c}),"
        " p -> power(CAST(p[1] AS DOUBLE) - p[2], 2)), (x, y) -> x + y)"
    )


def kcenter_sql(k: int = 8) -> str:
    """Unrolled twin of operators.sampling.kcenter_coreset: the same
    greedy farthest-point walk — seed = lowest id, per round a
    MATERIALIZED min-distance table (plain CTEs would inline the whole
    chain per reference — the kcore lesson), squared-L2 via the shared
    _kmeans_sqdist fold, (d DESC, id ASC) argmax, 6dp at the end."""
    parts = [
        """WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
s1 AS MATERIALIZED (
  SELECT vec_id, embedding, CAST(0.0 AS DOUBLE) AS d
  FROM e ORDER BY vec_id LIMIT 1
),
m1 AS MATERIALIZED (
  SELECT e.vec_id, e.embedding,
         """
        + _kmeans_sqdist("e.embedding", "(SELECT embedding FROM s1)")
        + """ AS d
  FROM e
)"""
    ]
    for r in range(2, k + 1):
        parts.append(
            f""",
s{r} AS MATERIALIZED (
  SELECT vec_id, embedding, d FROM m{r - 1}
  ORDER BY d DESC, vec_id LIMIT 1
),
m{r} AS MATERIALIZED (
  SELECT m.vec_id, m.embedding,
         least(m.d, """
            + _kmeans_sqdist("m.embedding", f"(SELECT embedding FROM s{r})")
            + f""") AS d
  FROM m{r - 1} m
)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT {r} AS sel_rank, vec_id, round(d, 6) AS dist FROM s{r}"
        for r in range(1, k + 1)
    )
    parts.append("\n" + sel)
    return "".join(parts)


KCENTER_Q = kcenter_sql()


def _kmeans_ctes(
    k,
    dim: int,
    iters: int,
    sample_mod: int = 1,
    prefix: str = "",
    src_sql: str | None = None,
    lead: bool = True,
) -> str:
    """WITH-clause prefix (dims, emb, c0 .. c{iters}) that walks the
    decimal-exact Lloyd iterations of ``clustering.train_centroids``:
    per-component updates sum float components through DECIMAL(28,12)
    (order-independent) and divide the DOUBLE cast by the bigint
    count — the same nearest-double steps the Spark driver takes with
    ``float(Decimal)/n``; assignment tiebreak is (distance, cid)
    ascending in both engines; init = the k lowest-id vectors of the
    (possibly 1-in-``sample_mod`` residue-sampled) training set.
    Shared by ``kmeans_sql`` and the trained-centroid ANN/SemDeDup
    twins (``ann_ivf_sql``, ``semdedup_sql``) so all three reproduce
    bit-identical centroids. ``k`` may be an int literal or a SQL
    snippet (e.g. the derived-cell-count scalar subquery) — it only
    ever lands in c0's LIMIT, which DuckDB accepts as an expression.

    ``prefix``/``src_sql``/``lead`` support embedding several walks in
    one WITH clause (the PQ twin trains one codebook per SUBSPACE:
    each walk gets a distinct CTE prefix and a sliced-vector source;
    only the first leads with the WITH keyword)."""
    where = f"WHERE vec_id % {sample_mod} = 0" if sample_mod > 1 else ""
    src = src_sql or "SELECT vec_id, embedding FROM embeddings"
    p = prefix
    parts = [
        f"""{"WITH " if lead else ""}{p}dims AS (SELECT unnest(range(1, {dim} + 1)) AS i),
{p}emb AS (SELECT * FROM ({src}) {where}),
{p}c0 AS (
  SELECT vec_id AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM {p}emb ORDER BY vec_id LIMIT {k}
)"""
    ]
    for t in range(1, iters + 1):
        prev = f"{p}c{t - 1}"
        parts.append(
            f""",
{p}a{t} AS (
  SELECT e.vec_id, e.embedding,
    (SELECT c.cid FROM {prev} c
     ORDER BY {_kmeans_sqdist('e.embedding', 'c.cvec')} ASC, c.cid ASC
     LIMIT 1) AS cluster
  FROM {p}emb e
),
{p}u{t} AS (
  SELECT a.cluster, d.i,
    sum(CAST(a.embedding[d.i] AS DECIMAL(28,12))) AS s,
    count(*) AS n
  FROM {p}a{t} a CROSS JOIN {p}dims d
  GROUP BY a.cluster, d.i
),
{p}c{t} AS (
  SELECT p.cid,
    list(CASE WHEN u.n IS NULL THEN p.cvec[d.i]
              ELSE CAST(u.s AS DOUBLE) / u.n END ORDER BY d.i) AS cvec
  FROM {prev} p CROSS JOIN {p}dims d
  LEFT JOIN {p}u{t} u ON u.cluster = p.cid AND u.i = d.i
  GROUP BY p.cid
)"""
        )
    return "".join(parts)


def kmeans_sql(k: int = 8, dim: int = 64, iters: int = 3) -> str:
    """Unrolled-CTE twin of operators.clustering.kmeans, made possible
    by the operator's decimal-exact centroid updates (see
    ``_kmeans_ctes``). Output is per-dimension rows (cluster,
    n_members, dim, val) so every cell is a scalar the harness can
    canonicalize."""

    def sqdist(e: str, c: str) -> str:
        return _kmeans_sqdist(e, c)

    parts = [_kmeans_ctes(k, dim, iters)]
    last = f"c{iters}"
    parts.append(
        f""",
afinal AS (
  SELECT e.vec_id,
    (SELECT c.cid FROM {last} c
     ORDER BY {sqdist('e.embedding', 'c.cvec')} ASC, c.cid ASC
     LIMIT 1) AS cluster
  FROM emb e
),
sizes AS (SELECT cluster, count(*) AS n_members FROM afinal GROUP BY cluster)
SELECT s.cluster, s.n_members, CAST(d.i - 1 AS INT) AS dim,
       round(c.cvec[d.i], 6) AS val
FROM sizes s JOIN {last} c ON c.cid = s.cluster CROSS JOIN dims d"""
    )
    return "".join(parts)


# -------------------------- round 3h: feature stats + split manifest

# Twin of functions.vectors.standardize_dims (dim = 64): DECIMAL-exact
# moment sums, the same mean/variance expression text, nullif-guarded
# division (constant dimension -> NULL in both engines), 6-dp round
# with signed-zero normalization.
STANDARDIZE_EMB_Q = """WITH dims AS (
  SELECT unnest(range(1, 65)) AS i
), flat AS (
  SELECT e.vec_id, CAST(d.i - 1 AS INT) AS dim,
         CAST(e.embedding[d.i] AS DOUBLE) AS x
  FROM embeddings e CROSS JOIN dims d
), st AS (
  SELECT dim,
    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS s,
    CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS s2,
    CAST(count(*) AS BIGINT) AS n
  FROM flat GROUP BY dim
), m AS (
  SELECT dim, s / n AS mean,
         sqrt(greatest(s2 / n - (s / n) * (s / n), 0.0)) AS sd
  FROM st
)
SELECT f.vec_id, f.dim,
       round((f.x - m.mean) / nullif(m.sd, 0.0), 6) + 0.0 AS z
FROM flat f JOIN m USING (dim)"""


def energy_profile_sql(prefix_dims=(8, 16, 32, 64)) -> str:
    """Twin of functions.vectors.energy_profile: same sliced left-fold
    dot products, 12-dp ratio round, DECIMAL mean."""
    rows = []
    for d in prefix_dims:
        part = _dot(f"list_slice(embedding, 1, {d})",
                    f"list_slice(embedding, 1, {d})")
        full = _dot("embedding", "embedding")
        rows.append(
            f"""SELECT CAST({d} AS INT) AS prefix_dim,
  round(CAST(sum(CAST(round(
    CASE WHEN {full} = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE {part} / {full} END, 12) AS DECIMAL(26,12))) AS DOUBLE)
        / count(*), 6) AS mean_energy,
  CAST(count(*) AS BIGINT) AS n
FROM embeddings"""
        )
    return "\nUNION ALL\n".join(rows)


# Twin of functions.vectors.dim_stats (dim = 64 in the testdata).
EMB_DIM_STATS_Q = """WITH ex AS (
  SELECT CAST(d.i - 1 AS INT) AS dim, CAST(e.embedding[d.i] AS DOUBLE) AS x
  FROM embeddings e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
)
SELECT dim, min(x) AS min_x, max(x) AS max_x,
  round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) + 0.0 AS mean_x,
  count(*) AS n
FROM ex GROUP BY dim"""


def split_manifest_sql() -> str:
    """Twin of queries.split_manifest: thresholds from the same
    threshold_hex so the split can never drift."""
    from .operators.sampling import threshold_hex

    t16, t32 = threshold_hex(16), threshold_hex(32)
    return f"""SELECT lang,
  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{t16}' THEN 'test'
       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{t32}' THEN 'val'
       ELSE 'train' END AS split,
  count(*) AS n_docs
FROM documents GROUP BY 1, 2"""


# ---------------------------------------- round 3i: reconciliation

_CK_COLS = (
    "CAST(c_custkey AS VARCHAR), c_name, CAST(c_nationkey AS VARCHAR), c_mktsegment"
)
_CK_HASH = (
    "CAST(CAST('0x' || substring(md5(concat_ws('|', "
    + ", ".join(f"coalesce({c.strip()}, '\\N')" for c in _CK_COLS.split(","))
    + ")), 1, 15) AS BIGINT) AS DECIMAL(38,0))"
)

# Twin of operators.reconcile: orderless content checksums.
TABLE_CHECKSUM_Q = f"""SELECT count(*) AS n_rows,
  CAST(CAST(sum({_CK_HASH}) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
FROM customer"""

GROUPED_CHECKSUM_Q = f"""SELECT c_custkey % 16 AS bucket,
  count(*) AS n_rows,
  CAST(CAST(sum({_CK_HASH}) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
FROM customer GROUP BY bucket"""


# --------------------------------------- round 3j: data-quality gate

# Twin of queries.dq_checks (same planted corruptions, same rules).
DQ_CHECKS_Q = """WITH corrupted AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 37 = 0 THEN NULL
         WHEN o_orderkey % 47 = 0 THEN o_custkey + 5000000
         ELSE o_custkey END AS o_custkey,
    CASE WHEN o_orderkey % 41 = 0 THEN CAST(-5.0 AS DOUBLE)
         ELSE o_totalprice END AS o_totalprice,
    CASE WHEN o_orderkey % 43 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 53 = 0
)
SELECT 'not_null(o_custkey)' AS rule,
  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
FROM corrupted
UNION ALL
SELECT 'in_range(o_totalprice,0.0,10000000.0)',
  CAST(sum(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 10000000.0
           THEN 1 ELSE 0 END) AS BIGINT)
FROM corrupted
UNION ALL
SELECT 'accepted_values(o_orderstatus)',
  CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
           THEN 1 ELSE 0 END) AS BIGINT)
FROM corrupted
UNION ALL
SELECT 'unique(o_orderkey)',
  CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT)
FROM corrupted
UNION ALL
SELECT 'ref_integrity(o_custkey->c_custkey)',
  CAST((SELECT count(*) FROM corrupted c
        LEFT JOIN customer p ON c.o_custkey = p.c_custkey
        WHERE c.o_custkey IS NOT NULL AND p.c_custkey IS NULL) AS BIGINT)"""


def fuzzy_resolve_sql() -> str:
    """Twin of ``queries.fuzzy_resolve``: recursive transitive closure
    over the blocked-levenshtein pairs, canonical = min reachable id."""
    return f"""WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({FUZZY_JOIN_Q})
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), walk AS (
  SELECT src, dst AS lbl FROM edges
  UNION
  SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.src = e.dst
), comp AS (
  SELECT src AS id, least(src, min(lbl)) AS canonical FROM walk GROUP BY src
)
SELECT p.p_partkey,
       coalesce(c.canonical, p.p_partkey) AS canonical_id,
       coalesce(c.canonical, p.p_partkey) = p.p_partkey AS is_kept
FROM part p LEFT JOIN comp c ON c.id = p.p_partkey"""


# Twin of queries.event_deltas (LAG/LEAD, integer-microsecond gaps).
EVENT_DELTAS_Q = """SELECT user_id, event_id,
  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
  lead(event_id) OVER w AS next_event_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""


def media_resize_sql(target_h: int = 64, target_w: int = 64) -> str:
    """Twin of multimodal.binaryops.resize_media over the synthesized
    media table: image rows only, source dims recomputed from the
    synthesis formulas (the Spark side parses them from the real PNG
    IHDR), resized container = kept body + the 57-byte PNG overhead.
    Byte-slice == char-substring here because the corpus is ASCII
    (asserted against the testdata); Python int() truncation == SQL
    floor() for the non-negative byte count."""
    area = f"CAST({float(target_h * target_w)} AS DOUBLE)"
    return f"""WITH m AS (
  SELECT doc_id AS media_id, 'image' AS kind,
    text, octet_length(encode(text)) AS nb
  FROM documents WHERE doc_id % 2 = 0
), d AS (
  SELECT media_id, kind, text, nb,
    32 + nb % 97 AS h, 32 + nb % 89 AS w
  FROM m
), r AS (
  SELECT media_id, kind, text,
    CAST(greatest(1, floor(nb * least({area} / (h * w),
         CAST(1.0 AS DOUBLE)))) AS BIGINT) AS n_keep
  FROM d
)
SELECT media_id, kind, CAST({target_h} AS INT) AS height,
  CAST({target_w} AS INT) AS width,
  n_keep + 57 AS resized_bytes,
  sha256(substring(text, 1, CAST(n_keep AS INT))) AS resized_sha
FROM r"""


# Twin of queries.event_transitions.
EVENT_TRANSITIONS_Q = """WITH t AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, count(*) AS n_transitions
FROM t WHERE to_type IS NOT NULL
GROUP BY from_type, to_type"""


# Twin of queries.jsonl_quarantine: the JSONL round-trip is
# deterministic end-to-end (to_json -> from_json on doc_id+lang is an
# identity for well-formed rows; corrupt lines are literal
# '{corrupt <id>' strings), so the oracle reconstructs both channels
# straight from the documents table.
JSONL_QUARANTINE_Q = """
SELECT doc_id, lang AS payload, 'good' AS channel
FROM documents WHERE doc_id % 97 <> 0
UNION ALL
SELECT NULL AS doc_id,
       '{corrupt ' || CAST(doc_id AS VARCHAR) AS payload,
       'quarantine' AS channel
FROM documents WHERE doc_id % 97 = 0"""

# Twin of queries.evolved_union: generation 1 (even doc_id) lacks
# n_chars, so the merged scan surfaces it as NULL there.
EVOLVED_UNION_Q = """
SELECT doc_id, lang,
       CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE NULL END AS n_chars
FROM documents"""


# Twin of queries.repetition_filter / texttools.repetition_signals:
# identical integer counts via list_* lambdas, ratios rounded to 6 dp
# on both engines.
REPETITION_Q = f"""WITH t AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), g AS (
  SELECT doc_id, len(toks) AS n_words,
         {_word_shingles('toks', 2)} AS bg,
         {_word_shingles('toks', 3)} AS tg
  FROM t
), s AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
    CASE WHEN len(bg) > 0 THEN round(
      list_max(list_transform(list_distinct(bg),
                              b -> len(list_filter(bg, x -> x = b))))
      * 1.0 / len(bg), 6) END AS top_bigram_frac,
    CASE WHEN len(tg) > 0 THEN round(
      (len(tg) - len(list_distinct(tg))) * 1.0 / len(tg), 6)
    END AS dup_trigram_frac
  FROM g
)
SELECT doc_id, n_words, top_bigram_frac, dup_trigram_frac,
       (coalesce(top_bigram_frac, 0.0) <= 0.18
        AND coalesce(dup_trigram_frac, 0.0) <= 0.30) AS keep
FROM s"""


# Twin of queries.profile_orders: identical canonical string forms —
# longs as digits, doubles through DECIMAL(18,4) fixed scale,
# timestamps as epoch microseconds (UTC both engines).
def _profile_col(c: str, canon_min: str, canon_max: str) -> str:
    return (
        f"SELECT '{c}' AS column_name,"
        f" CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,"
        f" CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,"
        f" {canon_min} AS min_value, {canon_max} AS max_value FROM orders"
    )


def _canon_sql(c: str, kind: str, agg: str) -> str:
    e = f"{agg}({c})"
    if kind == "ts":
        return f"CAST(epoch_us({e}) AS VARCHAR)"
    if kind == "dbl":
        return f"CAST(CAST(round({e}, 4) AS DECIMAL(18,4)) AS VARCHAR)"
    return f"CAST({e} AS VARCHAR)"


PROFILE_ORDERS_Q = " UNION ALL ".join(
    _profile_col(c, _canon_sql(c, kind, "min"), _canon_sql(c, kind, "max"))
    for c, kind in [
        ("o_orderkey", "num"),
        ("o_custkey", "num"),
        ("o_orderstatus", "str"),
        ("o_totalprice", "dbl"),
        ("o_orderdate", "ts"),
        ("o_orderpriority", "str"),
    ]
)


# Twin of queries.chunk_overlap (size=32, stride=16): overlapping token
# windows; same construction as CHUNK_DOCS_Q with the stride split out.
CHUNK_OVERLAP_Q = f"""WITH t AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), t2 AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
), idx AS (
  SELECT doc_id, toks, n,
         unnest(range(0, GREATEST(
           CAST(ceil((n - 32) / CAST(16.0 AS DOUBLE)) AS INT) + 1, 1))) AS ci
  FROM t2
)
SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
  array_to_string(list_slice(toks, ci * 16 + 1, ci * 16 + 32), ' ') AS chunk_text,
  CAST(LEAST(n - ci * 16, 32) AS INT) AS n_tokens
FROM idx"""


def minhash_incremental_sql(num_hashes: int = 12, bands: int = 4) -> str:
    """Twin of queries.minhash_incremental: the same md5 MinHash/band
    construction as minhash_lsh_sql, but the bucket join probes the
    batch partition (doc_id %% 5 = 0) against the corpus partition
    instead of self-joining; band keys are salted with the band index
    so the key-only join equals Spark's (band_idx, band_key) join."""
    rows = num_hashes // bands
    n_passes = (num_hashes + 3) // 4
    passes = ", ".join(
        f"list_transform(shingles, s -> md5('mh{p}:' || s)) AS md{p}"
        for p in range(n_passes)
    )
    comps = ", ".join(
        f"list_min(list_transform(md{i // 4}, m -> substring(m, {1 + 8 * (i % 4)}, 8)))"
        for i in range(num_hashes)
    )
    sig = f"[{comps}]"
    band_exprs = []
    for b in range(bands):
        parts = ", ".join(f"sig[{b * rows + r + 1}]" for r in range(rows))
        band_exprs.append(f"md5(concat_ws('|', 'b{b}', {parts})) AS band{b}")
    band_list = ", ".join(f"band{b}" for b in range(bands))
    matches = (
        f"list_sum(list_transform(range(1, {num_hashes} + 1),"
        " i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))"
    )
    return f"""WITH sh AS (
  SELECT doc_id, list_distinct({_word_shingles(TOKS, 3)}) AS shingles FROM documents
), md AS (
  SELECT doc_id, {passes} FROM sh WHERE len(shingles) > 0
), sigs AS (
  SELECT doc_id, {sig} AS sig FROM md
), banded AS (
  SELECT doc_id, sig, {", ".join(band_exprs)} FROM sigs
), keys AS (
  SELECT doc_id, sig, unnest([{band_list}]) AS band_key FROM banded
), cand AS (
  SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
  FROM keys a JOIN keys b ON a.band_key = b.band_key
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
)
SELECT c.batch_id, c.corpus_id,
       round(CAST({matches} AS DOUBLE) / CAST({num_hashes} AS DOUBLE), 6) AS est_jaccard
FROM cand c JOIN sigs a ON a.doc_id = c.batch_id JOIN sigs b ON b.doc_id = c.corpus_id"""


# ------------------------------------------------ round 5: new ops

# Twin of operators.corpus.unigram_xent: same tokenizer, same
# 12-dp-rounded per-token -ln p summed exactly as DECIMAL(26,12), same
# 6-dp-rounded mean and keep cut (3.41, on the rounded value).
UNIGRAM_XENT_Q = f"""WITH tk AS (
  SELECT doc_id, unnest({TOKS}) AS token FROM documents
), vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS tok_n FROM tk GROUP BY token
), tot AS (
  SELECT CAST(sum(tok_n) AS DOUBLE) AS corpus_n FROM vocab
), logp AS (
  SELECT token,
         CAST(round(-ln(CAST(tok_n AS DOUBLE) / tot.corpus_n), 12)
              AS DECIMAL(26,12)) AS neg_logp
  FROM vocab CROSS JOIN tot
), per_doc AS (
  SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         sum(logp.neg_logp) AS s
  FROM tk JOIN logp USING (token) GROUP BY tk.doc_id
)
SELECT doc_id, n_tok,
       round(CAST(s AS DOUBLE) / n_tok, 6) AS xent,
       (round(CAST(s AS DOUBLE) / n_tok, 6) <= 3.41) AS kept
FROM per_doc"""

# Twin of operators.corpus.source_divergence: same add-one-smoothed
# unigram probabilities over the global vocab (V as a scalar
# subquery), 12-dp-rounded p*ln(p/q) terms summed through DECIMAL.
SOURCE_DIVERGENCE_Q = f"""WITH tk AS (
  SELECT source AS grp, unnest({TOKS}) AS token FROM documents
), counts AS (
  SELECT grp, token, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY grp, token
), totals AS (
  SELECT grp, CAST(sum(c) AS BIGINT) AS tot FROM counts GROUP BY grp
), vocab AS (
  SELECT DISTINCT token FROM counts
), grid AS (
  SELECT t.grp, v.token,
    (CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
     / (CAST(t.tot AS DOUBLE)
        + (SELECT CAST(count(*) AS DOUBLE) FROM vocab))) AS p
  FROM vocab v CROSS JOIN totals t
  LEFT JOIN counts c ON c.grp = t.grp AND c.token = v.token
), terms AS (
  SELECT a.grp AS src_a, b.grp AS src_b,
    CAST(round(a.p * ln(a.p / b.p), 12) AS DECIMAL(26,12)) AS t
  FROM grid a JOIN grid b ON a.token = b.token AND a.grp <> b.grp
)
SELECT src_a, src_b,
       round(CAST(sum(t) AS DOUBLE), 6) + 0.0 AS kl
FROM terms GROUP BY src_a, src_b"""


# Twin of operators.corpus.xent_buckets: the UNIGRAM_XENT per-doc
# score + per-language ntile(3) on the total order (xent, doc_id) —
# integer-only split, standard larger-groups-first ntile in both
# engines.
XENT_BUCKETS_Q = f"""WITH tk AS (
  SELECT doc_id, unnest({TOKS}) AS token FROM documents
), vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS tok_n FROM tk GROUP BY token
), tot AS (
  SELECT CAST(sum(tok_n) AS DOUBLE) AS corpus_n FROM vocab
), logp AS (
  SELECT token,
         CAST(round(-ln(CAST(tok_n AS DOUBLE) / tot.corpus_n), 12)
              AS DECIMAL(26,12)) AS neg_logp
  FROM vocab CROSS JOIN tot
), per_doc AS (
  SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         sum(logp.neg_logp) AS s
  FROM tk JOIN logp USING (token) GROUP BY tk.doc_id
), x AS (
  SELECT doc_id, round(CAST(s AS DOUBLE) / n_tok, 6) AS xent FROM per_doc
), b AS (
  SELECT d.lang, x.doc_id, x.xent,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY x.xent ASC, x.doc_id ASC) AS bi
  FROM x JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, xent, CAST(bi AS INT) AS bucket_idx,
       CASE bi WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM b"""

# Twin of operators.graph.triangle_counts: same (degree, id) edge
# orientation, directed-path wedge + closure semi-join, integer-only.
TRIANGLE_COUNT_Q = """WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), deg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), o AS (
  SELECT h.src, h.dst, ds.deg AS ds, dd.deg AS dd
  FROM (SELECT src, dst FROM edges WHERE src < dst) h
  JOIN deg ds ON h.src = ds.src JOIN deg dd ON h.dst = dd.src
), e AS (
  SELECT CASE WHEN ds < dd OR (ds = dd AND src < dst) THEN src ELSE dst END AS lo,
         CASE WHEN ds < dd OR (ds = dd AND src < dst) THEN dst ELSE src END AS hi
  FROM o
), tri AS (
  SELECT p.x, p.y, p.z
  FROM (SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
        FROM e e1 JOIN e e2 ON e1.hi = e2.lo) p
  WHERE EXISTS (SELECT 1 FROM e WHERE e.lo = p.x AND e.hi = p.z)
), nodes AS (
  SELECT unnest([x, y, z]) AS node FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM nodes GROUP BY node"""


# Twin of operators.corpus.dsir_logratio: add-1-smoothed target ('en')
# vs raw unigram models over the shared vocab, 12-dp token log-ratios
# summed as DECIMAL(26,12), 6-dp rounded mean, cut on the rounded value.
DSIR_WEIGHTS_Q = f"""WITH tk AS (
  SELECT doc_id, (lang = 'en') AS t, unnest({TOKS}) AS token FROM documents
), vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS c_all,
         CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt
  FROM tk GROUP BY token
), nz AS (
  SELECT CAST(count(*) AS DOUBLE) AS v,
         CAST(sum(c_all) AS DOUBLE) AS n_all,
         CAST(sum(c_tgt) AS DOUBLE) AS n_tgt
  FROM vocab
), lr AS (
  SELECT token,
         CAST(round(ln((c_tgt + 1) / (nz.n_tgt + nz.v))
                    - ln((c_all + 1) / (nz.n_all + nz.v)), 12)
              AS DECIMAL(26,12)) AS lr
  FROM vocab CROSS JOIN nz
), per_doc AS (
  SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tok, sum(lr.lr) AS s
  FROM tk JOIN lr USING (token) GROUP BY tk.doc_id
)
SELECT doc_id, n_tok,
       round(CAST(s AS DOUBLE) / n_tok, 6) + 0.0 AS logratio,
       (round(CAST(s AS DOUBLE) / n_tok, 6) > 0.0) AS target_like
FROM per_doc"""


def semdedup_sql(
    n_cells: int | None = None,
    tau: float = 0.35,
    iters: int = 2,
    dim: int = 64,
    sample_mod: int = 1,
) -> str:
    """Twin of operators.dedup.semdedup with TRAINED centroids (same
    sample-fitted ``_kmeans_ctes`` walk as ann_ivf_sql):
    rounded-cosine argmax cells, within-cell pairs, drop = lower-id
    neighbor at >= tau. ``n_cells=None`` replays the operator's
    derived default — clamp(floor(sqrt(count)·0.5+0.5), 16, 4096)
    over the full corpus, ``dedup.semdedup_cells_for`` (the 0.5
    multiplier is the r8 measured cost-balance calibration) — as a
    scalar subquery in c0's LIMIT, so the twin adapts to any fixture
    size exactly like the Spark side (sqrt is correctly rounded in
    both engines and ·0.5/+0.5/floor are exact, so the derived count
    can't diverge)."""
    if n_cells is None:
        n_cells = (
            "(SELECT greatest(16, least(4096,"
            " CAST(floor(sqrt(count(*)) * 0.5 + 0.5) AS BIGINT)))"
            " FROM embeddings)"
        )
    last = f"c{iters}"
    return f"""{_kmeans_ctes(n_cells, dim, iters, sample_mod)},
assign AS (
  SELECT e.vec_id, e.embedding AS v,
         (SELECT c.cid FROM {last} c
          ORDER BY round({_cosine('e.embedding', 'c.cvec')}, 6) DESC, c.cid ASC
          LIMIT 1) AS cell
  FROM embeddings e
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round({_cosine('a.v', 'b.v')}, 6) >= {tau}
)
SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS kept
FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id"""


# Twin of operators.corpus.quality_ensemble: composes the proven
# TEXT_STATS / REPETITION / UNIGRAM_XENT signal SQL and applies the
# same first-failing-rule CASE on the 6-dp-rounded signals.
QUALITY_ENSEMBLE_Q = f"""WITH tk AS (
  SELECT doc_id, text, {TOKS} AS toks FROM documents
), st AS (
  SELECT doc_id,
    CAST(len(toks) AS INT) AS n_tokens,
    CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE (length(text) - length(translate(text, '{_SQL_PUNCT}', '')))
              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE {_hits('en')} / CAST(len(toks) AS DOUBLE) END AS stopword_ratio
  FROM tk
), q AS (
  SELECT doc_id, n_tokens, round(
    CAST(0.4 AS DOUBLE) * least(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
    + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - least(punct_ratio * CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE)))
    + CAST(0.3 AS DOUBLE) * least(stopword_ratio / CAST(0.4 AS DOUBLE), CAST(1.0 AS DOUBLE)),
  6) AS quality_score
  FROM st
), g AS (
  SELECT doc_id,
         {_word_shingles('toks', 2)} AS bg,
         {_word_shingles('toks', 3)} AS tg
  FROM tk
), rep AS (
  SELECT doc_id,
    CASE WHEN len(bg) > 0 THEN round(
      list_max(list_transform(list_distinct(bg),
                              b -> len(list_filter(bg, x -> x = b))))
      * 1.0 / len(bg), 6) END AS top_bigram_frac,
    CASE WHEN len(tg) > 0 THEN round(
      (len(tg) - len(list_distinct(tg))) * 1.0 / len(tg), 6)
    END AS dup_trigram_frac
  FROM g
), xtk AS (
  SELECT doc_id, unnest(toks) AS token FROM tk
), vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS tok_n FROM xtk GROUP BY token
), tot AS (
  SELECT CAST(sum(tok_n) AS DOUBLE) AS corpus_n FROM vocab
), logp AS (
  SELECT token,
         CAST(round(-ln(CAST(tok_n AS DOUBLE) / tot.corpus_n), 12)
              AS DECIMAL(26,12)) AS neg_logp
  FROM vocab CROSS JOIN tot
), x AS (
  SELECT xtk.doc_id, round(CAST(sum(logp.neg_logp) AS DOUBLE) / count(*), 6) AS xent
  FROM xtk JOIN logp USING (token) GROUP BY xtk.doc_id
), scored AS (
  SELECT q.doc_id, q.n_tokens, q.quality_score,
         rep.top_bigram_frac, rep.dup_trigram_frac, x.xent,
         CASE WHEN q.n_tokens < 24 THEN 'too_short'
              WHEN q.quality_score < 0.42 THEN 'low_quality'
              WHEN rep.top_bigram_frac > 0.08 THEN 'bigram_repetition'
              WHEN rep.dup_trigram_frac > 0.02 THEN 'trigram_repetition'
              WHEN x.xent > 3.45 THEN 'high_perplexity'
              ELSE 'pass' END AS reason
  FROM q JOIN rep USING (doc_id) JOIN x USING (doc_id)
)
SELECT doc_id, n_tokens, quality_score, top_bigram_frac,
       dup_trigram_frac, xent, reason, (reason = 'pass') AS kept
FROM scored"""


# ------------------------------------------------ round 4b: corpus ops

# Twin of operators.sketches.heavy_hitters (k=64): the oracle computes
# the exact > N/64 token set directly; the Spark side must land on the
# same set regardless of its Misra–Gries candidate pruning (that is
# the point of the two-pass design).
HEAVY_HITTERS_Q = f"""WITH tk AS (
  SELECT unnest({TOKS}) AS token FROM documents
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tok FROM tk
)
SELECT token, CAST(count(*) AS BIGINT) AS cnt,
       round(count(*) / CAST(n.n_tok AS DOUBLE), 6) AS share
FROM tk CROSS JOIN n
GROUP BY token, n.n_tok
HAVING count(*) * 64 > n.n_tok"""

# Twin of operators.sampling.shuffle_shard (seed 's42', 16 shards on
# the doc_id key): md5 + strpos only, so both engines derive the
# byte-identical permutation.
SHUFFLE_SHARD_Q = """WITH k AS (
  SELECT doc_id,
         md5(concat('s42', ':', CAST(doc_id AS VARCHAR))) AS shuffle_key
  FROM documents
), s AS (
  SELECT doc_id, shuffle_key,
         CAST(((strpos('0123456789abcdef', substr(shuffle_key, 1, 1)) - 1)
               * 16
               + strpos('0123456789abcdef', substr(shuffle_key, 2, 1)) - 1)
              % 16 AS INT) AS shard
  FROM k
)
SELECT doc_id, shuffle_key, shard,
       CAST(row_number() OVER (
         PARTITION BY shard ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
FROM s"""

# Twin of operators.corpus.bigram_pmi (min_count=5): identical
# multiplication association ((cnt*N)*N) / ((B*cx)*cy) before the
# single ln + 6-dp round.
BIGRAM_PMI_Q = f"""WITH d AS (
  SELECT {TOKS} AS toks FROM documents
), uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok
), big AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_word_shingles('toks', 2)}) AS bigram FROM d)
  GROUP BY bigram HAVING count(*) >= 5
), tot AS (
  SELECT CAST(sum(len(toks)) AS DOUBLE) AS n_tok,
         CAST(sum(greatest(len(toks) - 1, 0)) AS DOUBLE) AS n_big
  FROM d
), sp AS (
  SELECT bigram, cnt,
         split_part(bigram, ' ', 1) AS _x,
         split_part(bigram, ' ', 2) AS _y
  FROM big
)
SELECT sp.bigram, sp.cnt, cx.c1 AS c_left, cy.c1 AS c_right,
       round(ln((CAST(sp.cnt AS DOUBLE) * tot.n_tok * tot.n_tok)
                / (tot.n_big * CAST(cx.c1 AS DOUBLE)
                   * CAST(cy.c1 AS DOUBLE))), 6) + 0.0 AS pmi
FROM sp
JOIN uni cx ON sp._x = cx.tok
JOIN uni cy ON sp._y = cy.tok
CROSS JOIN tot"""


def bpe_merges_sql(n_merges: int = 6) -> str:
    """Unrolled-CTE twin of operators.bpe.learn_bpe_merges: the same
    (word, frequency) vocab start, and per step the same
    integer-weighted pair count, (cnt DESC, pair ASC) argmax, and
    whole-symbol literal replace — both engines walk bit-identical
    vocab states, the kmeans-oracle pattern applied to a string model.
    Symbols are chr(2)sym-chr(3) wrapped so a pair pattern can only
    match at whole-symbol boundaries."""
    syms = "regexp_extract_all(ws, chr(2)||'([^'||chr(3)||']*)'||chr(3), 1)"
    parts = [
        f"""WITH wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wn
  FROM (SELECT unnest({TOKS}) AS word FROM documents) GROUP BY word
), w0 AS (
  SELECT regexp_replace(word, '(.)', chr(2) || '\\1' || chr(3), 'g') AS ws, wn
  FROM wf
)"""
    ]
    for t in range(1, n_merges + 1):
        parts.append(
            f""",
p{t} AS (
  SELECT pair, CAST(sum(wn) AS BIGINT) AS cnt FROM (
    SELECT unnest({_word_shingles(syms, 2)}) AS pair, wn FROM w{t - 1}
  ) GROUP BY pair
), b{t} AS (
  SELECT split_part(pair, ' ', 1) AS lhs, split_part(pair, ' ', 2) AS rhs, cnt
  FROM p{t} ORDER BY cnt DESC, pair ASC LIMIT 1
), w{t} AS (
  SELECT replace(w.ws,
                 chr(2)||b.lhs||chr(3)||chr(2)||b.rhs||chr(3),
                 chr(2)||b.lhs||b.rhs||chr(3)) AS ws, w.wn
  FROM w{t - 1} w CROSS JOIN b{t} b
)"""
        )
    finals = [
        f"SELECT CAST({t} AS INTEGER) AS step, lhs, rhs,"
        f" lhs || rhs AS merged, cnt FROM b{t}"
        for t in range(1, n_merges + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(finals)


def bpe_merges_batched_sql(
    n_passes: int = 3, m_per_pass: int = 3, window: int = 32
) -> str:
    """Unrolled twin of operators.bpe.learn_bpe_merges_batched: per
    pass, the identical (cnt DESC, pair ASC) top-``window`` ranking,
    the no-symbol-shared-with-any-higher-ranked-pair filter, the first
    ``m_per_pass`` survivors, and ONE fold of whole-symbol replaces in
    selection order (symbol-disjoint, so the fold equals sequential
    application). The replace list rides as pat||chr(1)||rep strings
    folded with list_reduce."""
    syms = "regexp_extract_all(ws, chr(2)||'([^'||chr(3)||']*)'||chr(3), 1)"
    parts = [
        f"""WITH wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wn
  FROM (SELECT unnest({TOKS}) AS word FROM documents) GROUP BY word
), w0 AS (
  SELECT regexp_replace(word, '(.)', chr(2) || '\\1' || chr(3), 'g') AS ws, wn
  FROM wf
)"""
    ]
    for t in range(1, n_passes + 1):
        parts.append(
            f""",
p{t} AS (
  SELECT pair, CAST(sum(wn) AS BIGINT) AS cnt FROM (
    SELECT unnest({_word_shingles(syms, 2)}) AS pair, wn FROM w{t - 1}
  ) GROUP BY pair
), r{t} AS (
  SELECT pair, cnt,
         split_part(pair, ' ', 1) AS lhs, split_part(pair, ' ', 2) AS rhs,
         row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rk
  FROM p{t} ORDER BY cnt DESC, pair ASC LIMIT {window}
), s{t} AS (
  SELECT a.*, row_number() OVER (ORDER BY a.rk) AS sel_rk
  FROM r{t} a
  WHERE NOT EXISTS (
    SELECT 1 FROM r{t} b
    WHERE b.rk < a.rk
      AND (b.lhs = a.lhs OR b.lhs = a.rhs
           OR b.rhs = a.lhs OR b.rhs = a.rhs))
), sel{t} AS (
  SELECT * FROM s{t} WHERE sel_rk <= {m_per_pass}
), w{t} AS (
  SELECT list_reduce(
           list_prepend(w.ws, coalesce(reps.l, [])),
           (acc, p) -> replace(acc, split_part(p, chr(1), 1),
                               split_part(p, chr(1), 2))) AS ws,
         w.wn
  FROM w{t - 1} w CROSS JOIN (
    SELECT list(chr(2)||lhs||chr(3)||chr(2)||rhs||chr(3)
                || chr(1) || chr(2)||lhs||rhs||chr(3)
                ORDER BY sel_rk) AS l
    FROM sel{t}
  ) reps
)"""
        )
    finals = [
        f"SELECT CAST({t} AS INTEGER) AS pass, CAST(sel_rk AS INTEGER)"
        f" AS sel_rk, lhs, rhs, lhs || rhs AS merged, cnt FROM sel{t}"
        for t in range(1, n_passes + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(finals)


# Twin of functions.vectors.quantize_int8: same per-dim max-abs scale
# with the 1e-30 floor, same explicit half-up floor(x/scale + 0.5).
QUANTIZE_EMB_Q = """WITH dims AS (
  SELECT CAST(unnest(range(1, 65)) AS INT) AS i
), flat AS (
  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN dims
), sc AS (
  SELECT dim, greatest(max(abs(v)), 1e-30) / 127.0 AS scale
  FROM flat GROUP BY dim
)
SELECT f.vec_id, CAST(f.dim AS INT) AS dim,
       CAST(floor(f.v / s.scale + 0.5) AS INT) AS q
FROM flat f JOIN sc s USING (dim)"""


def jl_project_sql(out_dim: int = 16, in_dim: int = 64) -> str:
    """Twin of functions.vectors.jl_project: the SAME driver-computed
    Rademacher sign matrix (vectors.jl_signs — one source of truth)
    inlined as list literals; the per-component left fold mirrors
    Spark's ``aggregate(zip_with(...), 0.0, +)`` exactly (the
    kmeans-oracle list_zip/list_reduce pattern), then /sqrt(out_dim)
    and the 6-dp round."""
    from .functions.vectors import jl_signs

    signs = jl_signs(out_dim, in_dim)
    comps = []
    for j in range(out_dim):
        lits = ", ".join(repr(s) for s in signs[j])
        comps.append(
            "list_reduce(list_transform(list_zip(embedding, "
            f"[{lits}]), p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)"
        )
    pl = ",\n    ".join(comps)
    return f"""WITH p AS (
  SELECT vec_id, [{pl}] AS pl FROM embeddings
), dims AS (
  SELECT CAST(unnest(range(1, {out_dim} + 1)) AS INT) AS i
)
SELECT vec_id, CAST(i - 1 AS INT) AS odim,
       round(pl[i] / sqrt({float(out_dim)}), 6) + 0.0 AS val
FROM p CROSS JOIN dims"""


# Twin of operators.skew.key_skew_profile on events.user_id.
KEY_SKEW_Q = """WITH counts AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS kn FROM events GROUP BY user_id
), t10 AS (
  SELECT CAST(sum(kn) AS BIGINT) AS top10_rows FROM (
    SELECT kn FROM counts ORDER BY kn DESC, user_id ASC LIMIT 10)
), s AS (
  SELECT CAST(sum(kn) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(kn) AS BIGINT) AS max_per_key
  FROM counts
)
SELECT n_rows, n_keys, max_per_key, top10_rows,
       round(max_per_key / CAST(n_rows AS DOUBLE), 6) AS top1_share,
       round(top10_rows / CAST(n_rows AS DOUBLE), 6) AS top10_share,
       round(n_rows / CAST(n_keys AS DOUBLE), 6) AS avg_per_key
FROM s CROSS JOIN t10"""


# Twin of queries.pit_join (operators.cdc.pit_lookup): the oracle uses
# the NAIVE range-join formulation — a different algorithm than the
# union+carry-forward Spark plan, so agreement checks semantics, not
# implementation. Synthetic SCD2 dim: every customer has a version
# from 1990; customers with c_custkey % 3 = 0 get a +500 balance
# version from 1998 (orders span 1995-2001, so both sides of the
# boundary are exercised). A fact AT the boundary takes the new
# version (>= from, < to).
PIT_JOIN_Q = """WITH dim AS (
  SELECT c_custkey, c_acctbal AS bal,
         TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
         CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '1998-01-01 00:00:00'
              ELSE TIMESTAMP '9999-01-01 00:00:00' END AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, c_acctbal + 500.0,
         TIMESTAMP '1998-01-01 00:00:00', TIMESTAMP '9999-01-01 00:00:00'
  FROM customer WHERE c_custkey % 3 = 0
)
SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, d.bal AS bal_asof
FROM orders o LEFT JOIN dim d
  ON o.o_custkey = d.c_custkey
 AND o.o_orderdate >= d.valid_from
 AND o.o_orderdate < d.valid_to"""


def ols2_sql() -> str:
    """Twin of operators.relational.ols2 on lineitem (extendedprice ~
    quantity + discount, per return flag): interpolates the SAME
    formula strings the Spark plan evaluates (relational.OLS2_*), so
    coefficient arithmetic is byte-identical; sufficient statistics
    are DECIMAL-exact sums (see relational.ols2_sum_sql for the cast
    rounding argument) in both engines."""
    from .operators.relational import (
        OLS2_B0, OLS2_B1, OLS2_B2, OLS2_DET_SAFE, OLS2_R2, ols2_sum_sql,
    )

    yd = "CAST(l_extendedprice AS DOUBLE)"
    x1d = "CAST(l_quantity AS DOUBLE)"
    x2d = "CAST(l_discount AS DOUBLE)"
    sums = ",\n         ".join(
        ols2_sum_sql(t, a)
        for t, a in [
            (x1d, "s1"),
            (x2d, "s2"),
            (f"{x1d} * {x1d}", "s11"),
            (f"{x2d} * {x2d}", "s22"),
            (f"{x1d} * {x2d}", "s12"),
            (yd, "sy"),
            (f"{x1d} * {yd}", "s1y"),
            (f"{x2d} * {yd}", "s2y"),
            (f"{yd} * {yd}", "syy"),
        ]
    )
    return f"""WITH st AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) AS DOUBLE) AS nn,
         {sums}
  FROM lineitem GROUP BY l_returnflag
), solved AS (
  SELECT l_returnflag, n, nn, sy, s1y, s2y, syy,
         round({OLS2_B0} / {OLS2_DET_SAFE}, 6) + 0.0 AS b0,
         round({OLS2_B1} / {OLS2_DET_SAFE}, 6) + 0.0 AS b1,
         round({OLS2_B2} / {OLS2_DET_SAFE}, 6) + 0.0 AS b2
  FROM st
)
SELECT l_returnflag, n, b0, b1, b2, {OLS2_R2} AS r2 FROM solved"""


def corr_matrix_sql() -> str:
    """Twin of operators.relational.corr_matrix on lineitem
    (quantity, extendedprice, discount, tax): same shared sum shapes
    and per-pair formula text, pairs emitted as UNION ALL rows."""
    from .operators.relational import corr_pair_sql, corr_terms, ols2_sum_sql

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    sums = ",\n         ".join(
        ols2_sum_sql(t, a) for t, a in corr_terms(cols)
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT '{cols[i]}' AS col_a, '{cols[j]}' AS col_b,"
        f" {corr_pair_sql(i, j)} AS corr FROM st"
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    )
    return f"""WITH st AS (
  SELECT CAST(count(*) AS DOUBLE) AS nn,
         {sums}
  FROM lineitem
)
{rows}"""


def bpe_tokenize_sql() -> str:
    """Twin of queries.bpe_tokenize (operators.bpe.apply_bpe with the
    fixed merge list): the same whole-symbol-boundary replace chain per
    word, flattened; per-doc output is the BPE token count plus an md5
    of the space-joined token stream (scalar stand-in for the array)."""
    merges = [("e", "r"), ("i", "n"), ("o", "n"), ("a", "n"), ("t", "i"), ("s", "t")]
    inner = "w2"
    for lhs, rhs in merges:
        pat = f"chr(2)||'{lhs}'||chr(3)||chr(2)||'{rhs}'||chr(3)"
        rep = f"chr(2)||'{lhs}{rhs}'||chr(3)"
        inner = f"replace({inner}, {pat}, {rep})"
    return f"""WITH enc AS (
  SELECT doc_id,
         list_transform({TOKS},
           w -> regexp_replace(w, '(.)', chr(2) || '\\1' || chr(3), 'g')) AS ew
  FROM documents
), merged AS (
  SELECT doc_id, list_transform(ew, w2 -> {inner}) AS mw FROM enc
), toks AS (
  SELECT doc_id,
         flatten(list_transform(mw,
           w3 -> regexp_extract_all(w3,
                   chr(2)||'([^'||chr(3)||']*)'||chr(3), 1))) AS bt
  FROM merged
)
SELECT doc_id, CAST(len(bt) AS INT) AS n_bpe_tokens,
       md5(array_to_string(bt, ' ')) AS tokens_md5
FROM toks"""


# Twin of operators.sketches.hll_distinct (p=8): identical md5-derived
# 32-bit hash, top-8-bit register index, bin()-length rho, MAX-merged
# registers.  The harmonic sum adds exact powers of two (order-free);
# ln / the divisions run once on identical doubles; 6-dp rounding per
# the parity rules above.
HLL_DISTINCT_Q = """WITH h AS (
  SELECT CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS UBIGINT) AS BIGINT) AS h32
  FROM events
), r AS (
  SELECT CAST(h32 >> 24 AS BIGINT) AS idx,
         CAST(h32 & 16777215 AS BIGINT) AS w
  FROM h
), rho AS (
  SELECT idx,
         CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END AS rho
  FROM r
), regs AS (
  SELECT idx, max(rho) AS reg FROM rho GROUP BY idx
), sk AS (
  SELECT CAST(count(*) AS BIGINT) AS n_used,
         sum(power(2.0, -reg)) + (256 - count(*)) * 1.0 AS z,
         CAST(256 - count(*) AS DOUBLE) AS v
  FROM regs
), ex AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events
), est AS (
  SELECT n_used, z, v, exact_distinct,
         (0.7213 / (1.0 + 1.079 / 256)) * 256.0 * 256.0 / z AS raw
  FROM sk, ex
)
SELECT CAST(256 AS INT) AS m, n_used,
       round(raw, 6) AS raw_estimate,
       round(CASE WHEN raw <= 640.0 AND v > 0
                  THEN 256.0 * ln(256.0 / v) ELSE raw END, 6) AS estimate,
       exact_distinct,
       round(abs(CASE WHEN raw <= 640.0 AND v > 0
                      THEN 256.0 * ln(256.0 / v) ELSE raw END
                 - exact_distinct) / exact_distinct, 6) AS rel_error
FROM est"""


def _bloom_positions(text: str, m_bits: int = 4096, k: int = 3) -> str:
    """The k salted md5-slice bit positions as a DuckDB list expr."""
    slots = ", ".join(
        f"CAST(CAST('0x' || substring(md5('{j}|' || {text}), 1, 8)"
        f" AS UBIGINT) AS BIGINT) % {m_bits}"
        for j in range(k)
    )
    return f"[{slots}]"


# Twin of queries.bloom_screen (m=4096, k=3): same corpus/batch split,
# same salted md5 positions, bloom_hit = all 3 positions present in
# the corpus bit set, exact_dup from a distinct-text semi join.
BLOOM_SCREEN_Q = f"""WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
), batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM corpus WHERE doc_id % 7 = 0
), bits AS (
  SELECT DISTINCT unnest({_bloom_positions('text')}) AS bit FROM corpus
), probes AS (
  SELECT doc_id, unnest({_bloom_positions('text')}) AS bit FROM batch
), hits AS (
  SELECT p.doc_id,
         (sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) = 3) AS bloom_hit
  FROM probes p LEFT JOIN bits b ON p.bit = b.bit
  GROUP BY p.doc_id
)
SELECT h.doc_id, h.bloom_hit,
       (EXISTS (SELECT 1 FROM corpus c WHERE c.text = bt.text)) AS exact_dup
FROM hits h JOIN batch bt ON h.doc_id = bt.doc_id"""


def span_removal_ctes(src: str = "documents") -> str:
    """The shared_span_removal twin as a reusable CTE chain over any
    (doc_id, text) source; the result CTE is ``sr_out`` with columns
    (doc_id, n_tokens, n_removed, cleaned_text)."""
    return f"""sr_t AS (
  SELECT doc_id, {TOKS} AS toks FROM {src}
), sr_tn AS (
  SELECT doc_id, toks, len(toks) AS n FROM sr_t
), sr_ps0 AS (
  SELECT doc_id, toks, unnest(range(0, greatest(n - 7, 0))) AS pos
  FROM sr_tn
), sr_ps AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         substring(md5(array_to_string(
           list_slice(toks, pos + 1, pos + 8), ' ')), 1, 16) AS hh
  FROM sr_ps0
), sr_shared AS (
  SELECT hh FROM (SELECT DISTINCT doc_id, hh FROM sr_ps)
  GROUP BY hh HAVING count(*) >= 2
), sr_cov AS (
  SELECT DISTINCT sr_ps.doc_id, sr_ps.pos + u.j AS tpos
  FROM sr_ps JOIN sr_shared USING (hh), unnest(range(0, 8)) AS u(j)
), sr_ti0 AS (
  SELECT doc_id, toks, unnest(range(0, n)) AS tpos FROM sr_tn
), sr_ti AS (
  SELECT doc_id, CAST(tpos AS BIGINT) AS tpos,
         list_extract(toks, tpos + 1) AS tok
  FROM sr_ti0
), sr_kept AS (
  SELECT sr_ti.doc_id, count(*) AS n_kept,
         string_agg(sr_ti.tok, ' ' ORDER BY sr_ti.tpos) AS cleaned
  FROM sr_ti LEFT JOIN sr_cov
    ON sr_ti.doc_id = sr_cov.doc_id AND sr_ti.tpos = sr_cov.tpos
  WHERE sr_cov.tpos IS NULL
  GROUP BY sr_ti.doc_id
), sr_out AS (
  SELECT tn.doc_id, CAST(tn.n AS BIGINT) AS n_tokens,
         CAST(tn.n - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
         coalesce(k.cleaned, '') AS cleaned_text
  FROM sr_tn tn LEFT JOIN sr_kept k USING (doc_id)
)"""


# Twin of operators.dedup.shared_span_removal (n=8): same positional
# 8-token shingles and 16-hex md5 prefixes, shared = distinct-doc
# frequency >= 2, token cut when any shared span starting in
# [pos-7, pos] covers it, survivors re-joined in token order.
SPAN_REMOVAL_Q = (
    "WITH " + span_removal_ctes("documents") + "\nSELECT * FROM sr_out"
)


def _diff_hash(price: str = "price") -> str:
    cols = [
        "CAST(o_custkey AS VARCHAR)",
        "o_orderstatus",
        f"CAST({price} AS VARCHAR)",
        "odate",
    ]
    inner = ", ".join(f"coalesce({c}, '\\N')" for c in cols)
    return (
        "CAST(CAST(CAST('0x' || substring(md5(concat_ws('|', "
        + inner
        + ")), 1, 15) AS BIGINT) AS DECIMAL(38,0)) AS VARCHAR)"
    )


# Twin of queries.snapshot_diff (operators.reconcile.snapshot_diff):
# same v1/v2 synthesis, same 60-bit md5-prefix row hash over the
# DECIMAL/date-canonicalized columns, unchanged rows dropped.
SNAPSHOT_DIFF_Q = f"""WITH v1 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS odate
  FROM orders
), v2 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(CASE WHEN o_orderkey % 97 = 0 THEN price + 1 ELSE price END
              AS DECIMAL(18,2)) AS price,
         odate
  FROM v1 WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus,
         price, odate
  FROM v1 WHERE o_orderkey % 103 = 0
), h1 AS (
  SELECT o_orderkey, {_diff_hash()} AS old_hash FROM v1
), h2 AS (
  SELECT o_orderkey, {_diff_hash()} AS new_hash FROM v2
), j AS (
  SELECT coalesce(h1.o_orderkey, h2.o_orderkey) AS o_orderkey,
         old_hash, new_hash
  FROM h1 FULL OUTER JOIN h2 ON h1.o_orderkey = h2.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN old_hash IS NULL THEN 'added'
            WHEN new_hash IS NULL THEN 'removed'
            WHEN old_hash <> new_hash THEN 'changed' END AS diff_status,
       old_hash, new_hash
FROM j
WHERE old_hash IS NULL OR new_hash IS NULL OR old_hash <> new_hash"""


# Twin of operators.sampling.temperature_weights (alpha=0.3, budget
# 1M): identical expression shapes; the source-level sums are ~20
# doubles, last-ulp-safe under the 6-dp rounding rule.
TEMPERATURE_MIX_Q = f"""WITH s AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), t AS (
  SELECT CAST(sum(n_tokens) AS DOUBLE) AS tt FROM s
), z AS (
  SELECT sum(power(CAST(n_tokens AS DOUBLE) / tt, 0.3)) AS z FROM s, t
)
SELECT source, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / tt, 6) AS p_raw,
       round(power(CAST(n_tokens AS DOUBLE) / tt, 0.3) / z, 6) AS weight,
       round(power(CAST(n_tokens AS DOUBLE) / tt, 0.3) / z * 1000000.0
             / CAST(n_tokens AS DOUBLE), 6) AS epochs_at_budget
FROM s, t, z"""


# Twin of queries.stream_bloom_screen: the batch expression of the
# stateless streaming Bloom gate (same split, same salted positions,
# no synthetic-dup union — the stream sees only the %5 batch).
STREAM_BLOOM_SCREEN_Q = f"""WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
), batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
), bits AS (
  SELECT DISTINCT unnest({_bloom_positions('text')}) AS bit FROM corpus
), probes AS (
  SELECT doc_id, unnest({_bloom_positions('text')}) AS bit FROM batch
)
SELECT p.doc_id,
       (sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) = 3) AS bloom_hit
FROM probes p LEFT JOIN bits b ON p.bit = b.bit
GROUP BY p.doc_id"""


def ann_recall_sql() -> str:
    """Twin of queries.ann_recall: ALL six index twins verbatim as
    derived tables (WITH inside FROM subqueries — DuckDB-legal),
    overlap-counted on (query_id, vec_id) against the brute-force
    ground truth. Each arm replays its own full training walk; the
    Spark side shares one walk across arms, which is value-identical
    because the walks are deterministic."""
    arms = [
        ("lsh", ann_lsh_sql()),
        ("ivf", ann_ivf_sql()),
        ("pq", pq_topk_sql()),
        ("ivfpq", ivf_pq_topk_sql()),
        ("ivfpq_res", ivf_pq_residual_sql()),
        ("sq", SQ_TOPK_Q),
        ("graph", ann_graph_sql()),
    ]
    ctes = ",\n".join(
        f"{name} AS (SELECT * FROM ({sql}))" for name, sql in arms
    )
    cols = ",\n".join(
        f"""  CAST(sum(CASE WHEN {name}.vec_id IS NOT NULL THEN 1 ELSE 0 END)
    AS BIGINT) AS hit_{name},
  round(sum(CASE WHEN {name}.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        / CAST(count(*) AS DOUBLE), 6) AS recall_{name}"""
        for name, _ in arms
    )
    joins = "\n".join(
        f"LEFT JOIN {name} ON b.query_id = {name}.query_id"
        f" AND b.vec_id = {name}.vec_id"
        for name, _ in arms
    )
    return f"""WITH brute AS (SELECT * FROM ({ANN_BRUTE_Q})),
{ctes}
SELECT b.query_id,
  CAST(count(*) AS BIGINT) AS n_true,
{cols}
FROM brute b
{joins}
GROUP BY b.query_id"""


# Twin of operators.corpus.oov_rate (vocab_n=100): same deterministic
# top-100 vocab cut (count desc, token asc), same per-doc LEFT JOIN
# membership, empty docs surfaced via the documents LEFT JOIN.
OOV_RATE_Q = f"""WITH vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS n
    FROM (SELECT unnest({TOKS}) AS token FROM documents)
    GROUP BY token ORDER BY n DESC, token ASC LIMIT 100
  )
), tk AS (
  SELECT doc_id, unnest({TOKS}) AS token FROM documents
), per AS (
  SELECT tk.doc_id, count(*) AS n_tokens,
         sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM tk LEFT JOIN vocab v ON tk.token = v.token
  GROUP BY tk.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov,
       CASE WHEN coalesce(p.n_tokens, 0) > 0
            THEN round(p.n_oov / CAST(p.n_tokens AS DOUBLE), 6)
            ELSE CAST(0.0 AS DOUBLE) END AS oov_frac
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id"""


# Twin of operators.expectations.psi_drift (10 bins, +0.5 smoothing):
# identical bucket expression over the reference min/max, identical
# smoothing and ln-term shapes.
PSI_DRIFT_Q = """WITH ref AS (
  SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 0
), cur AS (
  SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 1
), b AS (
  SELECT CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi FROM ref
), rb AS (
  SELECT CAST(LEAST(GREATEST(floor((CAST(v AS DOUBLE) - lo)
           / ((hi - lo) / 10.0)), 0), 9) AS INT) AS bin,
         count(*) AS n_ref
  FROM ref, b GROUP BY bin
), cb AS (
  SELECT CAST(LEAST(GREATEST(floor((CAST(v AS DOUBLE) - lo)
           / ((hi - lo) / 10.0)), 0), 9) AS INT) AS bin,
         count(*) AS n_cur
  FROM cur, b GROUP BY bin
), tot AS (
  SELECT CAST((SELECT sum(n_ref) FROM rb) AS DOUBLE) AS n_r,
         CAST((SELECT sum(n_cur) FROM cb) AS DOUBLE) AS n_c
), j AS (
  SELECT coalesce(rb.bin, cb.bin) AS bin,
         coalesce(rb.n_ref, 0) AS n_ref,
         coalesce(cb.n_cur, 0) AS n_cur
  FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin
)
SELECT bin, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       round((n_ref + 0.5) / (n_r + 5.0), 6) AS p_ref,
       round((n_cur + 0.5) / (n_c + 5.0), 6) AS p_cur,
       round(((n_cur + 0.5) / (n_c + 5.0) - (n_ref + 0.5) / (n_r + 5.0))
             * ln(((n_cur + 0.5) / (n_c + 5.0))
                  / ((n_ref + 0.5) / (n_r + 5.0))), 6) AS psi_term
FROM j, tot"""


# Twin of queries.k_anonymity (k=5) over the valid bank rows.
K_ANONYMITY_Q = f"""{BANK_PREFIX}
SELECT age, job, marital, CAST(count(*) AS BIGINT) AS n,
       (count(*) < 5) AS at_risk
FROM valid GROUP BY age, job, marital"""


# Twin of multimodal.binaryops.block_mean_hash (n_blocks=16): the
# Spark side slices the body back out of the real container; the twin
# recomputes it as encode(text) per the synthesis formulas (same
# bytes, proving the container slice is exact). Byte i -> block
# i*16//n; bit = integer cross-multiplied mean comparison.
MEDIA_PHASH_Q = """WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         encode(text) AS body
  FROM documents
), b AS (
  SELECT media_id, kind, body, octet_length(body) AS n FROM m
), byt AS (
  SELECT media_id, n, unnest(range(0, n)) AS i, hex(body) AS hx FROM b
), bv AS (
  SELECT media_id, n, (i * 16) // n AS blk,
         CAST('0x' || substring(hx, CAST(i AS INT) * 2 + 1, 2) AS INT) AS v
  FROM byt
), blocks AS (
  SELECT media_id, blk, CAST(sum(v) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS c
  FROM bv GROUP BY media_id, blk
), tot AS (
  SELECT media_id, CAST(sum(s) AS BIGINT) AS total FROM blocks
  GROUP BY media_id
), grid AS (
  SELECT b.media_id, b.kind, b.n, unnest(range(0, 16)) AS blk FROM b
), bits AS (
  SELECT g.media_id, g.kind, g.n, g.blk,
         CASE WHEN coalesce(bl.s, 0) * g.n > t.total * coalesce(bl.c, 0)
              THEN '1' ELSE '0' END AS bit
  FROM grid g
  LEFT JOIN blocks bl ON g.media_id = bl.media_id AND g.blk = bl.blk
  LEFT JOIN tot t ON g.media_id = t.media_id
)
SELECT media_id, kind, CAST(n AS BIGINT) AS n_body,
       string_agg(bit, '' ORDER BY blk) AS phash
FROM bits GROUP BY media_id, kind, n"""

# Twin of multimodal.binaryops.decode_ppm over synthesize_ppm's
# uncompressed P6 lane: the Spark side REALLY decodes (header
# tokenizer + raster bytes); the twin recomputes the per-channel
# sums from the synthesis arithmetic (pixel i of doc d is
# (d*131 + i*17) % 256, channel i%3) with no byte access at all —
# agreement proves the decoder read every raster byte correctly.
MEDIA_DECODE_Q = """WITH d AS (
  SELECT doc_id AS media_id,
         8 + doc_id % 13 AS width,
         8 + doc_id % 11 AS height
  FROM documents
), px AS (
  SELECT media_id, width, height,
         unnest(range(0, width * height * 3)) AS i
  FROM d
), v AS (
  SELECT media_id, width, height, i % 3 AS ch,
         (media_id * 131 + i * 17) % 256 AS val
  FROM px
)
SELECT media_id,
       CAST(width AS INT) AS width,
       CAST(height AS INT) AS height,
       CAST(255 AS INT) AS maxval,
       CAST(width AS BIGINT) * height AS n_px,
       CAST(sum(CASE WHEN ch = 0 THEN val END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN ch = 1 THEN val END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN ch = 2 THEN val END) AS BIGINT) AS sum_b
FROM v GROUP BY media_id, width, height"""

# Twin of multimodal.binaryops.decode_png over synthesize_png's
# zlib-compressed lane: the Spark side REALLY decodes (CRC-checked
# chunk walk, multi-IDAT zlib inflate, un-filtering across all five
# PNG filter types); the twin recomputes the per-channel sums from
# the synthesis arithmetic (raw raster byte i of doc d is
# (d*131 + i*17) % 256, channel i%3 — the same formulas as the PPM
# lane) with no byte access at all — agreement proves inflate +
# un-filter reproduced every raster byte.
MEDIA_PNG_Q = """WITH d AS (
  SELECT doc_id AS media_id,
         8 + doc_id % 13 AS width,
         8 + doc_id % 11 AS height
  FROM documents
), px AS (
  SELECT media_id, width, height,
         unnest(range(0, width * height * 3)) AS i
  FROM d
), v AS (
  SELECT media_id, width, height, i % 3 AS ch,
         (media_id * 131 + i * 17) % 256 AS val
  FROM px
)
SELECT media_id,
       CAST(width AS INT) AS width,
       CAST(height AS INT) AS height,
       CAST(width AS BIGINT) * height AS n_px,
       CAST(sum(CASE WHEN ch = 0 THEN val END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN ch = 1 THEN val END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN ch = 2 THEN val END) AS BIGINT) AS sum_b
FROM v GROUP BY media_id, width, height"""

# Twin of multimodal.binaryops.png_text_chunks over synthesize_png:
# the Spark side REALLY walks the container (u32 chunk lengths, type
# bytes, cursor arithmetic — all JVM-side Column ops); the twin
# recomputes the (key, value) pairs from the synthesis inputs with no
# byte access — agreement proves the walk followed the real chunk
# boundaries past a variable-length tEXt payload.
MEDIA_TEXT_Q = """SELECT doc_id AS media_id,
       'Source' AS key,
       source AS value
FROM documents"""

# Twin of multimodal.binaryops.decode_pcm over the WAV lane (odd
# doc_ids): the data chunk carries exactly the UTF-8 body, so sample
# j is the little-endian int16 at body bytes (2j, 2j+1) — recomputed
# here from hex(body) byte pairs; a trailing odd byte is not a
# sample. Zero-crossing = adjacent sign changes (negative vs
# non-negative), via lag.
MEDIA_PCM_Q = """WITH m AS (
  SELECT doc_id AS media_id, encode(text) AS body
  FROM documents WHERE doc_id % 2 = 1
), b AS (
  SELECT media_id, octet_length(body) AS nb, hex(body) AS hx FROM m
  WHERE octet_length(body) >= 2
), s AS (
  SELECT media_id, unnest(range(0, nb // 2)) AS j, hx FROM b
), u AS (
  SELECT media_id, j,
         CAST('0x' || substring(hx, CAST(j AS INT) * 4 + 3, 2)
                   || substring(hx, CAST(j AS INT) * 4 + 1, 2) AS INT) AS uv
  FROM s
), sv AS (
  SELECT media_id, j,
         CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END AS v
  FROM u
), zc AS (
  SELECT media_id, v,
         lag(v) OVER (PARTITION BY media_id ORDER BY j) AS pv
  FROM sv
)
SELECT media_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(v) AS BIGINT) AS sum_amp,
       CAST(max(abs(v)) AS INT) AS peak_abs,
       CAST(sum(CASE WHEN pv IS NOT NULL AND ((v < 0) != (pv < 0))
                THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
FROM zc GROUP BY media_id"""


def pretrain_export_sql(min_quality: float = 0.5, lang: str = "en") -> str:
    """Twin of operators.corpus.pretrain_export: the corpus_filter
    gate+dedup CTEs, the span-removal chain over the survivors
    (``span_removal_ctes``), and the chunk_docs windowing over the
    cleaned text — each block verbatim from its standalone twin."""
    return f"""WITH pt_tk AS (
  SELECT doc_id, text, {TOKS} AS toks FROM documents
), pt_st AS (
  SELECT doc_id, text, toks,
    CAST(len(toks) AS INT) AS n_tokens,
    CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE (length(text) - length(translate(text, '{_SQL_PUNCT}', '')))
              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE {_hits('en')} / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
    {_lang_sel_sql()}
  FROM pt_tk
), pt_q AS (
  SELECT doc_id, text, round({_QUALITY}, 6) AS q,
         {_lang_case_sql()} AS lang FROM pt_st
), pt_f AS (
  SELECT * FROM pt_q WHERE q >= {min_quality} AND lang = '{lang}'
), kept AS (
  SELECT min(doc_id) AS doc_id, min(text) AS text
  FROM pt_f GROUP BY md5(text)
), {span_removal_ctes('kept')}, ck_src AS (
  SELECT doc_id, cleaned_text AS text FROM sr_out
), ck_tk AS (
  SELECT doc_id, {TOKS} AS toks FROM ck_src
), ck_t2 AS (
  SELECT doc_id, toks, len(toks) AS n FROM ck_tk WHERE len(toks) > 0
), ck_idx AS (
  SELECT doc_id, toks, n,
         unnest(range(0, GREATEST(
           CAST(ceil((n - 32) / CAST(32.0 AS DOUBLE)) AS INT) + 1, 1))) AS ci
  FROM ck_t2
)
SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
  array_to_string(list_slice(toks, ci * 32 + 1, ci * 32 + 32), ' ')
    AS chunk_text,
  CAST(LEAST(n - ci * 32, 32) AS INT) AS n_tokens
FROM ck_idx"""


# Twin of operators.corpus.source_span_overlap (n=8): distinct
# (source, span-hash) pairs, hash-keyed self-join, src_a < src_b.
SOURCE_SPAN_OVERLAP_Q = f"""WITH sh AS (
  SELECT DISTINCT source AS src, substring(md5(sh), 1, 16) AS hh
  FROM (
    SELECT source, unnest(list_distinct({_word_shingles(TOKS, 8)})) AS sh
    FROM documents
  )
)
SELECT a.src AS src_a, b.src AS src_b,
       CAST(count(DISTINCT a.hh) AS BIGINT) AS n_shared_spans
FROM sh a JOIN sh b ON a.hh = b.hh AND a.src < b.src
GROUP BY a.src, b.src"""


# Twin of operators.corpus.source_semantic_map: decimal-exact
# per-dimension centroid means (the k-means update arithmetic), then
# the shared sequential-fold cosine between source centroids.
SOURCE_SEMANTIC_MAP_Q = f"""WITH j AS (
  SELECT d.source AS src, e.embedding AS v
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
), per_dim AS (
  SELECT src, CAST(u.dim AS INT) AS dim,
         CAST(sum(CAST(v[u.dim] AS DECIMAL(28,12))) AS DOUBLE)
           / count(*) AS c
  FROM j, unnest(range(1, 65)) AS u(dim)
  GROUP BY src, u.dim
), ca AS (
  SELECT src, list(c ORDER BY dim) AS cent FROM per_dim GROUP BY src
)
SELECT a.src AS src_a, b.src AS src_b,
       round({_cosine('a.cent', 'b.cent')}, 6) AS cosine
FROM ca a JOIN ca b ON a.src < b.src"""


# Twin of functions.texttools.normalize_text over documents: explicit
# character classes shared by Java regex and RE2 (see the function's
# docstring on \s divergence).
TEXT_NORMALIZE_Q = r"""WITH n AS (
  SELECT doc_id, text,
    lower(trim(regexp_replace(
      regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
      '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text,
       CAST(length(text) AS BIGINT) AS n_chars_before,
       CAST(length(norm_text) AS BIGINT) AS n_chars_after
FROM n"""


# Twin of operators.relational.shipping_priority (TPC-H Q3 shape,
# segment BUILDING, cutoff 1998-06-15, top 10; revenue through the
# shared DECIMAL(18,6) sum + 4-dp round, ties broken by key).
SHIPPING_PRIORITY_Q = f"""SELECT l_orderkey,
  {_dec_sum_sql("l_extendedprice * (1 - l_discount)", "revenue")},
  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
  o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-15'
  AND l_shipdate > TIMESTAMP '1998-06-15'
GROUP BY l_orderkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d'),
         o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10"""


# Twin of operators.relational.returned_revenue (TPC-H Q10 shape).
RETURNED_REVENUE_Q = f"""SELECT c_custkey, c_name, n_name,
  {_dec_sum_sql("l_extendedprice * (1 - l_discount)", "revenue")},
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20"""


# Twin of operators.corpus.quality_autocut (pct=0.25): the same
# 6-dp-rounded quality score, exact interpolated quantile threshold,
# gate decided on the rounded values.
QUALITY_AUTOCUT_Q = f"""WITH tk AS (
  SELECT doc_id, text, {TOKS} AS toks FROM documents
), st AS (
  SELECT doc_id,
    CAST(len(toks) AS INT) AS n_tokens,
    CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE (length(text) - length(translate(text, '{_SQL_PUNCT}', '')))
              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE {_hits('en')} / CAST(len(toks) AS DOUBLE) END AS stopword_ratio
  FROM tk
), q AS (
  SELECT doc_id, round({_QUALITY}, 6) AS q FROM st
), t AS (
  SELECT round(quantile_cont(q, 0.25), 6) AS threshold FROM q
)
SELECT q.doc_id, q.q, t.threshold, (q.q >= t.threshold) AS kept
FROM q, t"""


# Twin of operators.corpus.dataset_card: same per-doc signals, exact
# DECIMAL(18,6) quality sum (order-independent), exact interpolated
# median.
DATASET_CARD_Q = f"""WITH tk AS (
  SELECT doc_id, source, text, {TOKS} AS toks FROM documents
), st AS (
  SELECT doc_id, source,
    CAST(len(toks) AS BIGINT) AS nt,
    CAST(length(text) AS BIGINT) AS nc,
    md5(text) AS h,
    CAST(len(toks) AS INT) AS n_tokens,
    CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE (length(text) - length(translate(text, '{_SQL_PUNCT}', '')))
              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE {_hits('en')} / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
    {_lang_sel_sql()}
  FROM tk
), q AS (
  SELECT doc_id, source, nt, nc, h, round({_QUALITY}, 6) AS q,
         {_lang_case_sql()} AS lang FROM st
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(nt) AS BIGINT) AS n_tokens,
  CAST(sum(nc) AS BIGINT) AS n_chars,
  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        / CAST(count(*) AS DOUBLE), 6) AS pct_english,
  round((count(*) - count(DISTINCT h)) / CAST(count(*) AS DOUBLE), 6)
    AS exact_dup_rate,
  round(CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS mean_quality,
  quantile_cont(nt, 0.5) AS p50_tokens
FROM q"""


# Twin of operators.graph.link_prediction (top=50, targets_mod=100):
# same symmetric distinct co-purchase edges, target-anchored wedge
# join on the shared middle, existing-edge anti-join,
# Jaccard = common / (deg_a + deg_b - common).
LINK_PREDICTION_Q = """WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), deg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), cand AS (
  SELECT x.src AS a, y.dst AS b, CAST(count(*) AS BIGINT) AS common
  FROM edges x JOIN edges y ON x.dst = y.src
  WHERE x.src % 100 = 0 AND x.src <> y.dst
  GROUP BY x.src, y.dst
), fresh AS (
  SELECT c.a, c.b, c.common FROM cand c
  LEFT JOIN edges e ON c.a = e.src AND c.b = e.dst
  WHERE e.src IS NULL
)
SELECT f.a, f.b, f.common,
       round(f.common / CAST(da.deg + db.deg - f.common AS DOUBLE), 6)
         AS jaccard
FROM fresh f
JOIN deg da ON f.a = da.src
JOIN deg db ON f.b = db.src
ORDER BY jaccard DESC, f.a ASC, f.b ASC
LIMIT 50"""


def _hll_est_cte(src: str) -> str:
    """One-row estimate CTE body over a (idx, reg) register table."""
    return f"""(
  SELECT round(CASE WHEN raw <= 640.0 AND v > 0
               THEN 256.0 * ln(256.0 / v) ELSE raw END, 6) AS e
  FROM (
    SELECT (0.7213 / (1.0 + 1.079 / 256)) * 65536.0 / z AS raw, v
    FROM (
      SELECT sum(power(2.0, -reg)) + (256 - count(*)) * 1.0 AS z,
             CAST(256 - count(*) AS DOUBLE) AS v
      FROM {src}
    )
  )
)"""


# Twin of operators.sketches.hll_merge_proof (p=8, group=event_type):
# identical registers; merged = max over per-group maxes, direct =
# max over all rows — the mergeability identity re-derived.
HLL_MERGE_Q = f"""WITH h AS (
  SELECT event_type AS grp,
         CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS UBIGINT) AS BIGINT) AS h32
  FROM events
), base AS (
  SELECT grp, CAST(h32 >> 24 AS BIGINT) AS idx,
         CASE WHEN (h32 & 16777215) = 0 THEN 25
              ELSE 25 - length(bin(h32 & 16777215)) END AS rho
  FROM h
), per_group AS (
  SELECT grp, idx, max(rho) AS reg FROM base GROUP BY grp, idx
), merged AS (
  SELECT idx, max(reg) AS reg FROM per_group GROUP BY idx
), direct AS (
  SELECT idx, max(rho) AS reg FROM base GROUP BY idx
), em AS {_hll_est_cte('merged')}, ed AS {_hll_est_cte('direct')},
ex AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events
)
SELECT CAST(256 AS INT) AS m, em.e AS est_merged, ed.e AS est_direct,
       (em.e = ed.e) AS merged_equals_direct, ex.exact_distinct
FROM em, ed, ex"""


# Twin of queries.media_validate: the oracle PREDICTS each verdict
# from the planted-corruption pattern (the dq_checks design — it does
# not recompute CRCs; the Spark side must actually catch the damage):
# %13 -> bad_magic; else %17 -> bad_crc (image) / bad_size (audio,
# body non-empty by construction); else ok. n_bytes from the
# synthesis formulas (PNG 57 B overhead, WAV 44 B).
MEDIA_VALIDATE_Q = """SELECT doc_id AS media_id,
  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
  CAST(octet_length(encode(text))
       + CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 44 END AS BIGINT)
    AS n_bytes,
  CASE
    WHEN doc_id % 13 = 0 THEN 'bad_magic'
    WHEN doc_id % 17 = 0 AND doc_id % 2 = 0 THEN 'bad_crc'
    WHEN doc_id % 17 = 0 THEN 'bad_size'
    ELSE 'ok'
  END AS status
FROM documents"""


# Twin of operators.relational.market_share (TPC-H Q8 shape, region
# ASIA, supplier nation NATION_2): exact DECIMAL(18,6) revenue sums,
# share divided in double and rounded to 6 dp.
MARKET_SHARE_Q = """WITH rn AS (
  SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), cust AS (
  SELECT c_custkey FROM customer JOIN rn ON c_nationkey = rn.n_nationkey
), sf AS (
  SELECT s_suppkey, (n_name = 'NATION_2') AS is_nation
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
), j AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS rev,
         sf.is_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN cust ON o_custkey = cust.c_custkey
  JOIN sf ON l_suppkey = sf.s_suppkey
)
SELECT o_year,
  round(CAST(sum(rev) AS DOUBLE), 4) AS total_revenue,
  round(CAST(sum(CASE WHEN is_nation THEN rev
                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE), 4)
    AS nation_revenue,
  round(CAST(sum(CASE WHEN is_nation THEN rev
                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        / CAST(sum(rev) AS DOUBLE), 6) AS mkt_share
FROM j GROUP BY o_year"""


# ------------------------------------------------ round 7: retrieval


def bm25_topk_sql(
    k: int = 10,
    k1: str = "1.2",
    b: str = "0.75",
    n_queries: int = 5,
    terms_per_query: int = 2,
    vocab_rank_start: int = 11,
) -> str:
    """Twin of operators.retrieval.bm25_topk: same derived query set
    (vocabulary ranked by total occurrences desc, token asc; ranks
    11..20 -> 5 two-term queries), the per-term contribution evaluated
    through the SAME formula text (BM25_TERM_FORMULA) over the same
    double columns, 12-dp rounded terms summed as DECIMAL(26,12), 6-dp
    final score, (score desc, doc_id asc) top-k."""
    from .operators.retrieval import BM25_TERM_FORMULA

    n_terms = n_queries * terms_per_query
    formula = BM25_TERM_FORMULA.format(k1=k1, b=b)
    return f"""WITH tk AS (
  SELECT doc_id, unnest({TOKS}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tk GROUP BY doc_id, token
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY doc_id
), dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, token FROM tk) GROUP BY token
), ranked AS (
  SELECT token,
         row_number() OVER (ORDER BY count(*) DESC, token ASC) AS vrank
  FROM tk GROUP BY token
), qterms AS (
  SELECT CAST((vrank - {vocab_rank_start}) // {terms_per_query} AS INT)
           AS query_id,
         token
  FROM ranked
  WHERE vrank >= {vocab_rank_start}
    AND vrank < {vocab_rank_start} + {n_terms}
), scal AS (
  SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n_docs,
         CAST((SELECT sum(dl) FROM dl) AS DOUBLE) AS sum_dl
), cand AS (
  SELECT q.query_id, tf.doc_id,
         CAST(tf.tf AS DOUBLE) AS tf, CAST(dl.dl AS DOUBLE) AS dl,
         CAST(d.df AS DOUBLE) AS df, s.n_docs,
         s.sum_dl / s.n_docs AS avgdl
  FROM tf
  JOIN qterms q USING (token)
  JOIN dl USING (doc_id)
  JOIN dfreq d ON d.token = tf.token
  CROSS JOIN scal s
), scored AS (
  SELECT query_id, doc_id,
         round(CAST(sum(CAST(round({formula}, 12) AS DECIMAL(26,12)))
                    AS DOUBLE), 6) AS score
  FROM cand GROUP BY query_id, doc_id
), rk AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rnk
  FROM scored
)
SELECT query_id, doc_id, score, CAST(rnk AS INT) AS rank
FROM rk WHERE rnk <= {k}"""


def cdc_sql(w: int = 4, div: int = 8) -> str:
    """Twin of operators.corpus.cdc_chunks: same w-token windows and
    md5-prefix cut rule, running-sum chunk assignment, order-pinned
    string_agg chunk hash."""
    return f"""WITH toks AS (
  SELECT doc_id AS doc, u['p'] - 1 AS pos, u['t'] AS tok
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(tk) + 1),
                      i -> {{'p': i, 't': tk[i]}})) AS u
        FROM (SELECT doc_id, {TOKS} AS tk FROM documents))
), wins AS (
  SELECT doc_id AS doc, s['p'] - 1 AS p, s['w'] AS win
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(ws) + 1),
                      i -> {{'p': i, 'w': ws[i]}})) AS s
        FROM (SELECT doc_id, {_word_shingles(TOKS, w)} AS ws
              FROM documents))
), cuts AS (
  SELECT doc, p + {w} AS cut FROM wins
  WHERE CAST(CAST('0x' || substring(md5(win), 1, 8) AS UBIGINT)
             AS BIGINT) % {div} = 0
), flagged AS (
  SELECT t.doc, t.pos, t.tok,
         CASE WHEN c.cut IS NOT NULL THEN 1 ELSE 0 END AS b
  FROM toks t LEFT JOIN cuts c ON t.doc = c.doc AND t.pos = c.cut
), assigned AS (
  SELECT doc, pos, tok,
         sum(b) OVER (PARTITION BY doc ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS chunk_idx
  FROM flagged
)
SELECT doc AS doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(min(pos) AS BIGINT) AS start_tok,
       CAST(max(pos) AS BIGINT) AS end_tok,
       CAST(count(*) AS BIGINT) AS n_tokens,
       md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
FROM assigned GROUP BY doc, chunk_idx"""


CDC_Q = cdc_sql()


def rm3_sql(
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 3,
    alpha: str = "0.4",
    k1: str = "1.2",
    b: str = "0.75",
    n_queries: int = 5,
    terms_per_query: int = 2,
    vocab_rank_start: int = 11,
) -> str:
    """Twin of operators.retrieval.rm3_topk: the bm25_topk_sql CTE
    chain for pass 1, the RM1 weight mine over the top-fb_docs
    feedback set (12dp/DECIMAL per term-doc, 6dp per term,
    (weight desc, token asc) selection), and the weighted second
    pass with the shared formula text."""
    from .operators.retrieval import BM25_TERM_FORMULA

    n_terms = n_queries * terms_per_query
    formula = BM25_TERM_FORMULA.format(k1=k1, b=b)
    return f"""WITH tk AS (
  SELECT doc_id, unnest({TOKS}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tk GROUP BY doc_id, token
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY doc_id
), dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, token FROM tk) GROUP BY token
), ranked AS (
  SELECT token,
         row_number() OVER (ORDER BY count(*) DESC, token ASC) AS vrank
  FROM tk GROUP BY token
), qterms AS (
  SELECT CAST((vrank - {vocab_rank_start}) // {terms_per_query} AS INT)
           AS query_id,
         token
  FROM ranked
  WHERE vrank >= {vocab_rank_start}
    AND vrank < {vocab_rank_start} + {n_terms}
), scal AS (
  SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n_docs,
         CAST((SELECT sum(dl) FROM dl) AS DOUBLE) AS sum_dl
), cand1 AS (
  SELECT q.query_id, tf.doc_id,
         CAST(tf.tf AS DOUBLE) AS tf, CAST(dl.dl AS DOUBLE) AS dl,
         CAST(d.df AS DOUBLE) AS df, s.n_docs,
         s.sum_dl / s.n_docs AS avgdl
  FROM tf
  JOIN qterms q USING (token)
  JOIN dl USING (doc_id)
  JOIN dfreq d ON d.token = tf.token
  CROSS JOIN scal s
), scored1 AS (
  SELECT query_id, doc_id,
         round(CAST(sum(CAST(round({formula}, 12) AS DECIMAL(26,12)))
                    AS DOUBLE), 6) AS score
  FROM cand1 GROUP BY query_id, doc_id
), fb AS MATERIALIZED (
  SELECT query_id, doc_id, score FROM (
    SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS rnk
    FROM scored1
  ) WHERE rnk <= {fb_docs}
), expc AS (
  SELECT f.query_id, tf.token,
         round(CAST(sum(CAST(round(
             CAST(tf.tf AS DOUBLE) / CAST(dl.dl AS DOUBLE) * f.score,
             12) AS DECIMAL(26,12))) AS DOUBLE), 6) AS rm_w
  FROM fb f
  JOIN tf ON tf.doc_id = f.doc_id
  JOIN dl ON dl.doc_id = f.doc_id
  GROUP BY f.query_id, tf.token
), expf AS (
  SELECT e.query_id, e.token, e.rm_w FROM expc e
  LEFT JOIN qterms q ON e.query_id = q.query_id AND e.token = q.token
  WHERE q.token IS NULL
), expsel AS (
  SELECT query_id, token FROM (
    SELECT query_id, token,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rm_w DESC, token ASC) AS rnk
    FROM expf
  ) WHERE rnk <= {fb_terms}
), allterms AS MATERIALIZED (
  SELECT query_id, token, CAST(1.0 AS DOUBLE) AS w FROM qterms
  UNION ALL
  SELECT query_id, token, CAST({alpha} AS DOUBLE) AS w FROM expsel
), cand2 AS (
  SELECT a.query_id, tf.doc_id, a.w,
         CAST(tf.tf AS DOUBLE) AS tf, CAST(dl.dl AS DOUBLE) AS dl,
         CAST(d.df AS DOUBLE) AS df, s.n_docs,
         s.sum_dl / s.n_docs AS avgdl
  FROM tf
  JOIN allterms a USING (token)
  JOIN dl USING (doc_id)
  JOIN dfreq d ON d.token = tf.token
  CROSS JOIN scal s
), scored2 AS (
  SELECT query_id, doc_id,
         round(CAST(sum(CAST(round(w * ({formula}), 12)
                    AS DECIMAL(26,12))) AS DOUBLE), 6) AS score
  FROM cand2 GROUP BY query_id, doc_id
), rk AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rnk
  FROM scored2
)
SELECT query_id, doc_id, score, CAST(rnk AS INT) AS rank
FROM rk WHERE rnk <= {k}"""


RM3_Q = rm3_sql()


def pq_topk_sql(
    k: int = 10,
    m: int = 4,
    codes: int = 16,
    iters: int = 1,
    dim: int = 64,
    n_queries: int = 5,
) -> str:
    """Twin of operators.similarity.pq_topk: one ``_kmeans_ctes`` walk
    per subspace (prefixed CTEs over list_slice'd vectors), cid-order
    code indexing, the same argmin encode tiebreak (distance, code),
    ADC distance = left-assoc sum of per-subspace codebook lookups,
    6-dp rounded, (approx_dist asc, vec_id asc) top-k excluding
    self-matches."""
    sub = dim // m
    parts = []
    for j in range(m):
        src = (
            f"SELECT vec_id, list_slice(embedding, {j * sub + 1},"
            f" {(j + 1) * sub}) AS embedding FROM embeddings"
        )
        parts.append(
            _kmeans_ctes(
                codes, sub, iters, prefix=f"s{j}", src_sql=src, lead=(j == 0)
            )
        )
    ctes = ",".join(parts)
    cbs = ",\n".join(
        f"""s{j}cb AS (
  SELECT row_number() OVER (ORDER BY cid) - 1 AS code, cvec
  FROM s{j}c{iters}
)"""
        for j in range(m)
    )
    enc = ",\n    ".join(
        f"""(SELECT cb.code FROM s{j}cb cb
     ORDER BY {_kmeans_sqdist(
         f'list_slice(e.embedding, {j * sub + 1}, {(j + 1) * sub})',
         'cb.cvec')} ASC, cb.code ASC
     LIMIT 1) AS c{j}"""
        for j in range(m)
    )
    dsum = "\n        + ".join(
        f"""(SELECT {_kmeans_sqdist(
            f'list_slice(q.qvec, {j * sub + 1}, {(j + 1) * sub})',
            'cb.cvec')} FROM s{j}cb cb WHERE cb.code = c.c{j})"""
        for j in range(m)
    )
    return f"""{ctes},
{cbs},
enc AS (
  SELECT e.vec_id,
    {enc}
  FROM embeddings e
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec
  FROM embeddings ORDER BY vec_id LIMIT {n_queries}
),
scored AS (
  SELECT q.query_id, c.vec_id,
         round({dsum}, 6) AS approx_dist
  FROM enc c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
rk AS (
  SELECT query_id, vec_id, approx_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_dist ASC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, vec_id, approx_dist, CAST(rnk AS INT) AS rank
FROM rk WHERE rnk <= {k}"""


def ivf_pq_topk_sql(
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 4,
    codes: int = 16,
    rerank: int = 30,
    iters: int = 2,
    pq_iters: int = 1,
    dim: int = 64,
    n_queries: int = 5,
    train_where: str = "",
) -> str:
    """Twin of operators.similarity.ivf_pq_topk — the composed index:
    the unprefixed ``_kmeans_ctes`` coarse walk (cells via rounded-
    cosine argmax, as ann_ivf_sql), ``m`` prefixed subspace walks
    (codebooks + encode, as pq_topk_sql), ADC shortlist of ``rerank``
    per query within probed cells, exact-cosine re-rank to top-k.
    ``train_where`` restricts BOTH training walks (coarse + every
    subspace) to a sub-corpus — the maintained-index twin
    (``ann_ivfpq_incremental``) trains on the base split while
    assignment/encoding stay full-corpus."""
    sub = dim // m
    last = f"c{iters}"
    tw = f" WHERE {train_where}" if train_where else ""
    parts = [
        _kmeans_ctes(
            n_centroids, dim, iters,
            src_sql=f"SELECT vec_id, embedding FROM embeddings{tw}",
        )
    ]
    for j in range(m):
        src = (
            f"SELECT vec_id, list_slice(embedding, {j * sub + 1},"
            f" {(j + 1) * sub}) AS embedding FROM embeddings{tw}"
        )
        parts.append(
            _kmeans_ctes(
                codes, sub, pq_iters, prefix=f"s{j}", src_sql=src, lead=False
            )
        )
    ctes = ",".join(parts)
    cbs = ",\n".join(
        f"""s{j}cb AS (
  SELECT row_number() OVER (ORDER BY cid) - 1 AS code, cvec
  FROM s{j}c{pq_iters}
)"""
        for j in range(m)
    )
    enc = ",\n    ".join(
        f"""(SELECT cb.code FROM s{j}cb cb
     ORDER BY {_kmeans_sqdist(
         f'list_slice(e.embedding, {j * sub + 1}, {(j + 1) * sub})',
         'cb.cvec')} ASC, cb.code ASC
     LIMIT 1) AS c{j}"""
        for j in range(m)
    )
    dsum = "\n        + ".join(
        f"""(SELECT {_kmeans_sqdist(
            f'list_slice(p.qvec, {j * sub + 1}, {(j + 1) * sub})',
            'cb.cvec')} FROM s{j}cb cb WHERE cb.code = e.c{j})"""
        for j in range(m)
    )
    return f"""{ctes},
{cbs},
enc AS (
  SELECT e.vec_id,
    {enc}
  FROM embeddings e
),
assign AS (
  SELECT e.vec_id,
         (SELECT c.cid FROM {last} c
          ORDER BY round({_cosine('e.embedding', 'c.cvec')}, 6) DESC, c.cid ASC
          LIMIT 1) AS cell
  FROM embeddings e
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  ORDER BY vec_id LIMIT {n_queries}
),
probes AS (
  SELECT query_id, qvec, cid AS cell FROM (
    SELECT q.query_id, q.qvec, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY round({_cosine('q.qvec', 'c.cvec')}, 6) DESC,
                                       c.cid ASC) AS pr
    FROM q CROSS JOIN {last} c
  ) WHERE pr <= {nprobe}
),
adc AS (
  SELECT p.query_id, a.vec_id,
         round({dsum}, 6) AS approx_dist
  FROM probes p
  JOIN assign a ON a.cell = p.cell
  JOIN enc e ON e.vec_id = a.vec_id
  WHERE a.vec_id != p.query_id
),
short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_dist ASC, vec_id ASC) AS sr
    FROM adc
  ) WHERE sr <= {rerank}
),
rer AS (
  SELECT s.query_id, s.vec_id,
         round({_cosine('e.embedding', 'q.qvec')}, 6) AS cosine
  FROM short s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN q ON q.query_id = s.query_id
),
fin AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rnk
  FROM rer
)
SELECT query_id, vec_id, cosine, CAST(rnk AS INT) AS rank
FROM fin WHERE rnk <= {k}"""


def ivf_pq_residual_sql(
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 4,
    codes: int = 16,
    rerank: int = 30,
    iters: int = 2,
    pq_iters: int = 1,
    dim: int = 64,
    n_queries: int = 5,
) -> str:
    """Twin of operators.similarity.ivf_pq_topk(residual=True) — the
    classic IVFPQ coupling: coarse walk + cell assignment as
    ``ivf_pq_topk_sql``, then a ``resid`` CTE holding
    ``embedding - centroid[cell]`` (CAST(float AS DOUBLE) - double,
    the exact Spark zip_with arithmetic), the ``m`` subspace walks
    and the encode run over RESIDUAL slices, and the query LUT is
    built per PROBED CELL from ``qvec - centroid[cell]``. Shortlist
    and exact-cosine re-rank unchanged."""
    sub = dim // m
    last = f"c{iters}"
    parts = [_kmeans_ctes(n_centroids, dim, iters)]
    parts.append(
        f"""
assign AS (
  SELECT e.vec_id, e.embedding,
         (SELECT c.cid FROM {last} c
          ORDER BY round({_cosine('e.embedding', 'c.cvec')}, 6) DESC, c.cid ASC
          LIMIT 1) AS cell
  FROM embeddings e
),
resid AS (
  SELECT a.vec_id, a.cell,
         list_transform(list_zip(a.embedding, c.cvec),
                        p -> CAST(p[1] AS DOUBLE) - p[2]) AS embedding
  FROM assign a JOIN {last} c ON c.cid = a.cell
)"""
    )
    for j in range(m):
        src = (
            f"SELECT vec_id, list_slice(embedding, {j * sub + 1},"
            f" {(j + 1) * sub}) AS embedding FROM resid"
        )
        parts.append(
            _kmeans_ctes(
                codes, sub, pq_iters, prefix=f"s{j}", src_sql=src, lead=False
            )
        )
    ctes = ",".join(parts)
    cbs = ",\n".join(
        f"""s{j}cb AS (
  SELECT row_number() OVER (ORDER BY cid) - 1 AS code, cvec
  FROM s{j}c{pq_iters}
)"""
        for j in range(m)
    )
    enc = ",\n    ".join(
        f"""(SELECT cb.code FROM s{j}cb cb
     ORDER BY {_kmeans_sqdist(
         f'list_slice(r.embedding, {j * sub + 1}, {(j + 1) * sub})',
         'cb.cvec')} ASC, cb.code ASC
     LIMIT 1) AS c{j}"""
        for j in range(m)
    )
    dsum = "\n        + ".join(
        f"""(SELECT {_kmeans_sqdist(
            f'list_slice(p.qres, {j * sub + 1}, {(j + 1) * sub})',
            'cb.cvec')} FROM s{j}cb cb WHERE cb.code = e.c{j})"""
        for j in range(m)
    )
    return f"""{ctes},
{cbs},
enc AS (
  SELECT r.vec_id, r.cell,
    {enc}
  FROM resid r
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  ORDER BY vec_id LIMIT {n_queries}
),
probes AS (
  SELECT query_id, qvec, cid AS cell FROM (
    SELECT q.query_id, q.qvec, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY round({_cosine('q.qvec', 'c.cvec')}, 6) DESC,
                                       c.cid ASC) AS pr
    FROM q CROSS JOIN {last} c
  ) WHERE pr <= {nprobe}
),
probes_res AS (
  SELECT p.query_id, p.cell,
         list_transform(list_zip(p.qvec, c.cvec),
                        z -> CAST(z[1] AS DOUBLE) - z[2]) AS qres
  FROM probes p JOIN {last} c ON c.cid = p.cell
),
adc AS (
  SELECT p.query_id, e.vec_id,
         round({dsum}, 6) AS approx_dist
  FROM probes_res p
  JOIN enc e ON e.cell = p.cell
  WHERE e.vec_id != p.query_id
),
short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_dist ASC, vec_id ASC) AS sr
    FROM adc
  ) WHERE sr <= {rerank}
),
rer AS (
  SELECT s.query_id, s.vec_id,
         round({_cosine('e.embedding', 'q.qvec')}, 6) AS cosine
  FROM short s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN q ON q.query_id = s.query_id
),
fin AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rnk
  FROM rer
)
SELECT query_id, vec_id, cosine, CAST(rnk AS INT) AS rank
FROM fin WHERE rnk <= {k}"""


# Twin of operators.corpus.bigram_xent: add-one-smoothed bigram
# conditionals fit on the corpus (prefix counts normalize exactly,
# vocab size as a scalar), per-bigram -ln p 12-dp-rounded and
# DECIMAL-summed, 6-dp mean; docs shorter than 2 tokens keep a row
# with n_bigrams = 0 and NULL xent2 (the Spark side's explode_outer).
BIGRAM_XENT_Q = f"""WITH tk AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), bg AS (
  SELECT doc_id, unnest({_word_shingles('toks', 2)}) AS bg FROM tk
), model AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS c2,
         split_part(bg, ' ', 1) AS w1
  FROM bg GROUP BY bg
), prefix AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM model GROUP BY w1
), vv AS (
  SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v
  FROM (SELECT unnest(toks) AS token FROM tk)
), logp AS (
  SELECT m.bg,
         CAST(round(-ln((m.c2 + 1.0) / (p.c1 + vv.v)), 12)
              AS DECIMAL(26,12)) AS neg_logp
  FROM model m JOIN prefix p USING (w1) CROSS JOIN vv
), per_doc AS (
  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         sum(l.neg_logp) AS s
  FROM bg b JOIN logp l USING (bg) GROUP BY b.doc_id
)
SELECT t.doc_id,
       coalesce(pd.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
       CASE WHEN pd.n_bigrams > 0
            THEN round(CAST(pd.s AS DOUBLE) / pd.n_bigrams, 6) END AS xent2
FROM tk t LEFT JOIN per_doc pd USING (doc_id)"""


# Twin of queries.l_diversity (l=2, sensitive = y) over the valid
# bank rows — the k-anonymity companion: combinations where every row
# shares one sensitive value disclose it by membership alone.
L_DIVERSITY_Q = f"""{BANK_PREFIX}
SELECT age, job, marital, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT y) AS BIGINT) AS n_sensitive,
       (count(DISTINCT y) < 2) AS at_risk
FROM valid GROUP BY age, job, marital"""


# Twin of queries.t_closeness (quasi = job, marital; sensitive = age;
# t = 0.2) over the valid bank rows. Ordered EMD closed form: per
# class, running sum of (q - p) over the GLOBAL age histogram, mean
# absolute value over the m-1 steps. The running sum walks in
# DECIMAL(32,12) after a 12dp quantize (the repo cross-engine ladder)
# so accumulation order cannot shift the doubles.
T_CLOSENESS_Q = f"""{BANK_PREFIX},
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM valid),
vals AS (
  SELECT age AS _v, count(*) / (SELECT n_total FROM tot) AS _p
  FROM valid GROUP BY age
),
mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM vals),
classes AS (
  SELECT job, marital, CAST(count(*) AS BIGINT) AS n
  FROM valid GROUP BY job, marital
),
cells AS (
  SELECT job, marital, age AS _v, CAST(count(*) AS DOUBLE) AS _ncv
  FROM valid GROUP BY job, marital, age
),
grid AS (
  SELECT c.job, c.marital, c.n, v._v, v._p,
         coalesce(ce._ncv, 0.0) / CAST(c.n AS DOUBLE) AS _q
  FROM classes c CROSS JOIN vals v
  LEFT JOIN cells ce
    ON ce.job = c.job AND ce.marital = c.marital AND ce._v = v._v
),
walked AS (
  SELECT job, marital, n,
         sum(CAST(round(_q - _p, 12) AS DECIMAL(32,12)))
           OVER (PARTITION BY job, marital ORDER BY _v) AS _cum
  FROM grid
),
emds AS (
  SELECT job, marital, n,
         CASE WHEN (SELECT m FROM mm) > 1.0
              THEN round(CAST(sum(abs(_cum)) AS DOUBLE)
                         / ((SELECT m FROM mm) - 1.0), 6)
              ELSE 0.0 END AS emd
  FROM walked GROUP BY job, marital, n
)
SELECT job, marital, n, emd, (emd > 0.2) AS at_risk FROM emds"""


# Twin of operators.profiling.bt_strengths (top_n=24, judges=5,
# iters=8): same top-quality contestant cut, md5-jittered judge panel,
# and unrolled MM updates through the trunc-12dp/DECIMAL ladder with a
# mean-1 renormalize per step.
def bt_sql(top_n: int = 24, judges: int = 5, iters: int = 8) -> str:
    t12 = "floor(({x}) * 1e12) / 1e12"
    dsum = "CAST(sum(CAST(" + t12 + " AS DECIMAL(32,12))) AS DOUBLE)"

    def jit(d: str) -> str:
        return (
            f"CAST(CAST('0x' || substring(md5(CAST({d} AS VARCHAR) || '|' ||"
            " CAST(k AS VARCHAR)), 1, 8) AS UBIGINT) % 1000 AS DOUBLE)"
            " / 1000.0 * 0.3"
        )

    parts = [
        f"""WITH tk AS (
  SELECT doc_id, text, {TOKS} AS toks FROM documents
), st AS (
  SELECT doc_id,
    CAST(len(toks) AS INT) AS n_tokens,
    CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE (length(text) - length(translate(text, '{_SQL_PUNCT}', '')))
              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE {_hits('en')} / CAST(len(toks) AS DOUBLE) END AS stopword_ratio
  FROM tk
), cont AS MATERIALIZED (
  SELECT doc_id AS doc, round({_QUALITY}, 6) AS q FROM st
  ORDER BY q DESC, doc ASC LIMIT {top_n}
), games AS (
  SELECT a.doc AS i, b.doc AS j, a.q AS qi, b.q AS qj, ks.k
  FROM cont a JOIN cont b ON a.doc < b.doc
  CROSS JOIN (SELECT unnest(range(1, {judges + 1})) AS k) ks
), outc AS (
  SELECT i, j, ((qi + {jit('i')}) > (qj + {jit('j')})) AS i_wins
  FROM games
), wins AS MATERIALIZED (
  SELECT i, j,
         CAST(sum(CASE WHEN i_wins THEN 1 ELSE 0 END) AS BIGINT) AS wi,
         CAST(count(*) AS BIGINT) AS g
  FROM outc GROUP BY i, j
), ed AS MATERIALIZED (
  SELECT i AS doc, j AS opp, wi AS w, g FROM wins
  UNION ALL
  SELECT j AS doc, i AS opp, g - wi AS w, g FROM wins
), totals AS MATERIALIZED (
  SELECT doc, CAST(sum(w) AS BIGINT) AS wins, CAST(sum(g) AS BIGINT) AS games
  FROM ed GROUP BY doc
), s0 AS MATERIALIZED (SELECT doc, CAST(1.0 AS DOUBLE) AS s FROM totals)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
d{t} AS (
  SELECT e.doc, {dsum.format(x='CAST(e.g AS DOUBLE) / (si.s + sj.s)')} AS den
  FROM ed e
  JOIN s{t - 1} si ON e.doc = si.doc
  JOIN s{t - 1} sj ON e.opp = sj.doc
  GROUP BY e.doc
),
r{t} AS MATERIALIZED (
  SELECT t.doc, {t12.format(x='CAST(t.wins AS DOUBLE) / d.den')} AS r
  FROM totals t JOIN d{t} d ON t.doc = d.doc
),
n{t} AS (SELECT {dsum.format(x='r')} AS tot FROM r{t}),
s{t} AS MATERIALIZED (
  SELECT doc,
         {t12.format(x=f'r * {float(top_n)} / (SELECT tot FROM n{t})')} AS s
  FROM r{t}
)"""
        )
    parts.append(
        f"""
SELECT t.doc AS doc_id, t.wins, t.games, round(f.s, 6) AS strength,
       CAST(row_number() OVER (ORDER BY f.s DESC, t.doc ASC) AS INT)
         AS rank
FROM totals t JOIN s{iters} f ON t.doc = f.doc"""
    )
    return "".join(parts)


BT_Q = bt_sql()


# Twin of operators.dedup.dedup_recall_report: exact n-gram Jaccard
# truth vs MinHash-estimate pairs at the same threshold, one summary
# row of precision/recall (NULL on zero denominators, like Spark's
# nullif-guarded division).
DEDUP_RECALL_Q = f"""WITH truth AS (
  SELECT id_a, id_b FROM ({NGRAM_JACCARD_Q})
), est AS (
  SELECT id_a, id_b FROM ({minhash_lsh_sql()}) WHERE est_jaccard >= 0.5
), j AS (
  SELECT (t.id_a IS NOT NULL) AS in_t, (e.id_a IS NOT NULL) AS in_e
  FROM truth t
  FULL OUTER JOIN est e ON t.id_a = e.id_a AND t.id_b = e.id_b
)
SELECT
  CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
  CAST(sum(CASE WHEN in_e THEN 1 ELSE 0 END) AS BIGINT) AS n_est,
  CAST(sum(CASE WHEN in_t AND in_e THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
  round(sum(CASE WHEN in_t AND in_e THEN 1 ELSE 0 END)
        / nullif(CAST(sum(CASE WHEN in_e THEN 1 ELSE 0 END) AS DOUBLE),
                 0.0), 6) AS precision,
  round(sum(CASE WHEN in_t AND in_e THEN 1 ELSE 0 END)
        / nullif(CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS DOUBLE),
                 0.0), 6) AS recall
FROM j"""


def split_leakage_sql(threshold: float = 0.5) -> str:
    """Twin of operators.sampling.split_leakage: MinHash pairs at the
    same threshold, split membership by the split_manifest hash rule,
    one row per leaking unordered split pair."""
    from .operators.sampling import threshold_hex

    t16, t32 = threshold_hex(16), threshold_hex(32)
    return f"""WITH est AS (
  SELECT id_a, id_b, est_jaccard FROM ({minhash_lsh_sql()})
  WHERE est_jaccard >= {threshold}
), s AS (
  SELECT doc_id,
    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{t16}'
           THEN 'test'
         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{t32}'
           THEN 'val'
         ELSE 'train' END AS split
  FROM documents
), crossed AS (
  SELECT least(sa.split, sb.split) AS split_a,
         greatest(sa.split, sb.split) AS split_b,
         est.est_jaccard
  FROM est
  JOIN s sa ON sa.doc_id = est.id_a
  JOIN s sb ON sb.doc_id = est.id_b
  WHERE sa.split <> sb.split
)
SELECT split_a, split_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN est_jaccard = 1.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_full_match
FROM crossed GROUP BY split_a, split_b"""


# Twin of queries.stream_psi_drift: the PSI_DRIFT_Q machinery over the
# events value column (reference = even event_ids, current = the
# STREAMED odd half) — the bounded availableNow run must equal this
# batch PSI exactly (batch-equivalence, the stream_window_agg bar).
STREAM_PSI_DRIFT_Q = """WITH ref AS (
  SELECT value AS v FROM events WHERE event_id % 2 = 0
), cur AS (
  SELECT value AS v FROM events WHERE event_id % 2 = 1
), b AS (
  SELECT CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi FROM ref
), rb AS (
  SELECT CAST(LEAST(GREATEST(floor((CAST(v AS DOUBLE) - lo)
           / ((hi - lo) / 10.0)), 0), 9) AS INT) AS bin,
         count(*) AS n_ref
  FROM ref, b GROUP BY bin
), cb AS (
  SELECT CAST(LEAST(GREATEST(floor((CAST(v AS DOUBLE) - lo)
           / ((hi - lo) / 10.0)), 0), 9) AS INT) AS bin,
         count(*) AS n_cur
  FROM cur, b GROUP BY bin
), tot AS (
  SELECT CAST((SELECT sum(n_ref) FROM rb) AS DOUBLE) AS n_r,
         CAST((SELECT sum(n_cur) FROM cb) AS DOUBLE) AS n_c
), j AS (
  SELECT coalesce(rb.bin, cb.bin) AS bin,
         coalesce(rb.n_ref, 0) AS n_ref,
         coalesce(cb.n_cur, 0) AS n_cur
  FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin
)
SELECT bin, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       round((n_ref + 0.5) / (n_r + 5.0), 6) AS p_ref,
       round((n_cur + 0.5) / (n_c + 5.0), 6) AS p_cur,
       round(((n_cur + 0.5) / (n_c + 5.0) - (n_ref + 0.5) / (n_r + 5.0))
             * ln(((n_cur + 0.5) / (n_c + 5.0))
                  / ((n_ref + 0.5) / (n_r + 5.0))), 6) AS psi_term
FROM j, tot"""


# Twin of operators.corpus.feature_hash_embed (dim=32): md5-derived
# 32-bit value, bit 0 = sign, rest = dimension index; signed counts,
# exact-integer L2 norm, 6-dp rounded sparse rows.
FEATURE_HASH_Q = f"""WITH tk AS (
  SELECT doc_id, unnest({TOKS}) AS token FROM documents
), h AS (
  SELECT doc_id,
    CAST(CAST('0x' || substring(md5(token), 1, 8) AS UBIGINT) AS BIGINT)
      AS h32
  FROM tk
), dims AS (
  SELECT doc_id, CAST((h32 // 2) % 32 AS INT) AS dim,
         (1 - (h32 % 2) * 2) AS sign
  FROM h
), signed AS (
  SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS val
  FROM dims GROUP BY doc_id, dim
  HAVING sum(sign) <> 0
), norms AS (
  SELECT doc_id, sqrt(CAST(sum(val * val) AS DOUBLE)) AS n
  FROM signed GROUP BY doc_id
)
SELECT s.doc_id, s.dim, round(CAST(s.val AS DOUBLE) / n.n, 6) AS val
FROM signed s JOIN norms n USING (doc_id)
WHERE round(CAST(s.val AS DOUBLE) / n.n, 6) <> 0.0"""


# Twin of queries.knn_classify: majority lang among the brute-force
# top-10 neighbors (ANN_BRUTE_Q composed), ties to the smallest label.
KNN_CLASSIFY_Q = f"""WITH nn AS (
  SELECT query_id, vec_id FROM ({ANN_BRUTE_Q})
), v AS (
  SELECT nn.query_id, d.lang AS l, count(*) AS n_votes
  FROM nn JOIN documents d ON d.doc_id = nn.vec_id
  GROUP BY nn.query_id, d.lang
), r AS (
  SELECT query_id, l, n_votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_votes DESC, l ASC) AS rn
  FROM v
)
SELECT query_id, l AS pred_label, CAST(n_votes AS BIGINT) AS n_votes
FROM r WHERE rn = 1"""


def dedup_cluster_stats_sql(threshold: float = 0.5) -> str:
    """Twin of operators.dedup.dedup_cluster_stats: the resolve
    composition folded to (cluster_size, n_clusters, n_docs)."""
    return f"""WITH res AS (
  SELECT doc_id, canonical_id FROM ({dedup_resolve_sql(threshold)})
), sz AS (
  SELECT canonical_id, count(*) AS cluster_size FROM res
  GROUP BY canonical_id
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM sz GROUP BY cluster_size"""


def hybrid_rank_fusion_sql(
    n_queries: int = 5,
    m_terms: int = 8,
    k_arm: int = 20,
    k: int = 10,
    k1: str = "1.2",
    b: str = "0.75",
    rrf_k: int = 60,
    sem_arm: str = "brute",
) -> str:
    """Twin of operators.retrieval.hybrid_rank_fusion: the same query
    documents (lowest n doc_ids == vec_ids), the same tf·ln(N/df)
    query reduction to m terms, the shared BM25 formula text for the
    lexical arm, the pluggable semantic arm (``sem_arm="brute"`` =
    the ANN_BRUTE cosine; ``"ivf"`` = the full trained-IVF twin as a
    derived table, proving the operator's pluggability claim), each
    arm's top k_arm full-outer-joined and RRF-fused with
    Σ 1/(rrf_k + rank) in (lex + sem) addition order, 6-dp rounded,
    (rrf desc, doc_id asc) top-k."""
    from .operators.retrieval import BM25_TERM_FORMULA

    formula = BM25_TERM_FORMULA.format(k1=k1, b=b)
    if sem_arm == "ivf":
        sem_ctes = f"""sem AS (
  SELECT query_id, vec_id AS doc_id, rank AS sem_rank
  FROM ({ann_ivf_sql(k=k_arm)})
)"""
    elif sem_arm == "brute":
        sem_ctes = f"""semq AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  ORDER BY vec_id LIMIT {n_queries}
), semscored AS (
  SELECT q.query_id, e.vec_id AS doc_id,
         round({_cosine('e.embedding', 'q.qvec')}, 6) AS cosine
  FROM embeddings e CROSS JOIN semq q WHERE e.vec_id != q.query_id
), sem AS (
  SELECT query_id, doc_id, CAST(r AS INT) AS sem_rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, doc_id ASC) AS r
    FROM semscored
  ) WHERE r <= {k_arm}
)"""
    else:
        raise ValueError(f"unknown sem_arm {sem_arm!r}")
    return f"""WITH tk AS (
  SELECT doc_id, unnest({TOKS}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tk GROUP BY doc_id, token
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY doc_id
), dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, token FROM tk) GROUP BY token
), scal AS (
  SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n_docs,
         CAST((SELECT sum(dl) FROM dl) AS DOUBLE) AS sum_dl
), qdocs AS (
  SELECT doc_id AS query_id FROM documents ORDER BY doc_id LIMIT {n_queries}
), qpool AS (
  SELECT q.query_id, tf.token,
         CAST(tf.tf AS DOUBLE) * ln(s.n_docs / CAST(d.df AS DOUBLE)) AS w
  FROM tf
  JOIN qdocs q ON tf.doc_id = q.query_id
  JOIN dfreq d ON d.token = tf.token
  CROSS JOIN scal s
), qterms AS (
  SELECT query_id, token FROM (
    SELECT query_id, token,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY w DESC, token ASC) AS r
    FROM qpool
  ) WHERE r <= {m_terms}
), lexcand AS (
  SELECT q.query_id, tf.doc_id,
         CAST(tf.tf AS DOUBLE) AS tf, CAST(dl.dl AS DOUBLE) AS dl,
         CAST(d.df AS DOUBLE) AS df, s.n_docs,
         s.sum_dl / s.n_docs AS avgdl
  FROM tf
  JOIN qterms q USING (token)
  JOIN dl USING (doc_id)
  JOIN dfreq d ON d.token = tf.token
  CROSS JOIN scal s
  WHERE tf.doc_id != q.query_id
), lexscored AS (
  SELECT query_id, doc_id,
         round(CAST(sum(CAST(round({formula}, 12) AS DECIMAL(26,12)))
                    AS DOUBLE), 6) AS score
  FROM lexcand GROUP BY query_id, doc_id
), lex AS (
  SELECT query_id, doc_id, CAST(r AS INT) AS lex_rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS r
    FROM lexscored
  ) WHERE r <= {k_arm}
), {sem_ctes}, fused AS (
  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         COALESCE(l.doc_id, s.doc_id) AS doc_id,
         round(COALESCE(CAST(1.0 AS DOUBLE) / ({rrf_k} + l.lex_rank),
                        CAST(0.0 AS DOUBLE))
               + COALESCE(CAST(1.0 AS DOUBLE) / ({rrf_k} + s.sem_rank),
                          CAST(0.0 AS DOUBLE)), 6) AS rrf,
         l.lex_rank, s.sem_rank
  FROM lex l
  FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id
)
SELECT query_id, doc_id, rrf, lex_rank, sem_rank, CAST(r AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, doc_id ASC) AS r
  FROM fused
) WHERE r <= {k}"""


ANN_FILTERED_Q = f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec, label AS qval
  FROM embeddings ORDER BY vec_id LIMIT 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         round({_cosine('e.embedding', 'q.qvec')}, 6) AS cosine
  FROM embeddings e JOIN q ON e.label = q.qval
  WHERE e.vec_id != q.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10"""


def countmin_freq_sql(d: int = 4, w: int = 256, n_probes: int = 10) -> str:
    """Twin of operators.sketches.countmin_freq: the same salted
    md5-prefix bucket per hash row, SUM-merged counters, min-over-rows
    point estimates for the n lowest distinct keys, exact counts
    alongside."""

    def bucket(j: int, key: str) -> str:
        return (
            f"CAST(CAST('0x' || substring(md5('cm{j}|' || {key}), 1, 8)"
            f" AS UBIGINT) AS BIGINT) % {w}"
        )

    pair_sel = "\n  UNION ALL ".join(
        f"SELECT {j} AS j, {bucket(j, 'CAST(user_id AS VARCHAR)')} AS bucket"
        " FROM events"
        for j in range(d)
    )
    probe_sel = "\n  UNION ALL ".join(
        f"SELECT user_id, {j} AS j,"
        f" {bucket(j, 'CAST(user_id AS VARCHAR)')} AS bucket FROM probes"
        for j in range(d)
    )
    return f"""WITH pairs AS (
  {pair_sel}
), counters AS (
  SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM pairs GROUP BY j, bucket
), probes AS (
  SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT {n_probes}
), probe_pairs AS (
  {probe_sel}
), est AS (
  SELECT p.user_id, min(c.cnt) AS estimate
  FROM probe_pairs p JOIN counters c USING (j, bucket)
  GROUP BY p.user_id
), exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_count
  FROM events GROUP BY user_id
)
SELECT e.user_id, CAST(est.estimate AS BIGINT) AS estimate,
       e.exact_count,
       CAST(est.estimate - e.exact_count AS BIGINT) AS overcount
FROM exact e JOIN est USING (user_id)"""


def _cms_ngram_prefix(n: int, d: int, w: int, mid_ctes: str) -> str:
    """Shared CTEs for the heavy-hitter n-gram twins: the n-gram
    occurrence stream over documents, the d×w Count-Min counter table
    (same salted md5-prefix buckets as
    operators.sketches._cms_ngram_parts), and the min-over-rows
    estimates for the ``cands`` CTE that ``mid_ctes`` must define."""

    def bucket(j: int, key: str) -> str:
        return (
            f"CAST(CAST('0x' || substring(md5('cmng{j}|' || {key}),"
            f" 1, 8) AS UBIGINT) AS BIGINT) % {w}"
        )

    sh = _word_shingles(TOKS, n)
    pair_sel = "\n  UNION ALL ".join(
        f"SELECT {j} AS j, {bucket(j, 'g')} AS bucket FROM grams"
        for j in range(d)
    )
    probe_sel = "\n  UNION ALL ".join(
        f"SELECT g, {j} AS j, {bucket(j, 'g')} AS bucket FROM cands"
        for j in range(d)
    )
    return f"""WITH grams AS (
  SELECT unnest({sh}) AS g FROM documents
), {mid_ctes}, pairs AS (
  {pair_sel}
), counters AS (
  SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM pairs GROUP BY j, bucket
), probe_pairs AS (
  {probe_sel}
), est AS (
  SELECT p.g, min(c.cnt) AS estimate
  FROM probe_pairs p JOIN counters c USING (j, bucket)
  GROUP BY p.g
)"""


def cms_ngrams_sql(n: int = 3, d: int = 4, w: int = 1024, k: int = 20) -> str:
    """Twin of operators.sketches.cms_ngram_hitters: distinct n-gram
    candidates probe the counter table, rank by (estimate DESC, ngram
    ASC) — a total order, so the top-k cut is deterministic."""
    prefix = _cms_ngram_prefix(
        n, d, w, "cands AS (\n  SELECT DISTINCT g FROM grams\n)"
    )
    return f"""{prefix},
top AS (
  SELECT g, estimate FROM est
  ORDER BY estimate DESC, g ASC LIMIT {k}
)
SELECT CAST(row_number() OVER (ORDER BY estimate DESC, g ASC) AS INT)
         AS rank,
       g AS ngram, CAST(estimate AS BIGINT) AS estimate
FROM top"""


def cms_ngrams_exact_sql(
    n: int = 3, d: int = 4, w: int = 1024, k: int = 20
) -> str:
    """Twin of operators.sketches.cms_ngram_hitters_exact: true top-k
    by occurrence count with the sketch estimate + overcount
    alongside."""
    mid = f"""exact AS (
  SELECT g, CAST(count(*) AS BIGINT) AS exact_count
  FROM grams GROUP BY g
), cands AS (
  SELECT g FROM exact ORDER BY exact_count DESC, g ASC LIMIT {k}
)"""
    prefix = _cms_ngram_prefix(n, d, w, mid)
    return f"""{prefix},
top AS (
  SELECT e.g, e.exact_count, est.estimate
  FROM exact e JOIN est USING (g)
  JOIN cands USING (g)
)
SELECT CAST(row_number() OVER (ORDER BY exact_count DESC, g ASC) AS INT)
         AS rank,
       g AS ngram, exact_count,
       CAST(estimate AS BIGINT) AS estimate,
       CAST(estimate - exact_count AS BIGINT) AS overcount
FROM top"""


SPEARMAN_QUALITY_Q = f"""WITH ts AS (
  SELECT doc_id, n_tokens, quality_score FROM ({TEXT_STATS_Q})
), base AS (
  SELECT d.source, ts.quality_score AS q, ts.n_tokens AS t
  FROM ts JOIN documents d USING (doc_id)
), ranked AS (
  SELECT source,
    2 * rank() OVER (PARTITION BY source ORDER BY q)
      + count(*) OVER (PARTITION BY source, q) - 1 AS dx,
    2 * rank() OVER (PARTITION BY source ORDER BY t)
      + count(*) OVER (PARTITION BY source, t) - 1 AS dy
  FROM base
), mom AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
    sum(CAST(dx AS HUGEINT)) AS sx, sum(CAST(dy AS HUGEINT)) AS sy,
    sum(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS sxx,
    sum(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS syy,
    sum(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS sxy
  FROM ranked GROUP BY source
)
SELECT source, n AS n_docs,
  CASE WHEN (CAST(n AS HUGEINT) * sxx - sx * sx) > 0
        AND (CAST(n AS HUGEINT) * syy - sy * sy) > 0
       THEN round(
         CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                * CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)),
         6)
       ELSE NULL END AS spearman_rho
FROM mom"""


def matryoshka_recall_sql(d_prefix: int = 16, k: int = 10) -> str:
    """Twin of queries.matryoshka_recall: the ANN_BRUTE_Q shape run
    twice — full vectors and list_slice prefixes — joined on
    (query_id, vec_id)."""

    def brute(vec_e: str, vec_q: str) -> str:
        return f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  ORDER BY vec_id LIMIT 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         round({_cosine(vec_e, vec_q)}, 6) AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id FROM ranked WHERE rank <= {k}"""

    full = brute("e.embedding", "q.qvec")
    pref = brute(
        f"list_slice(e.embedding, 1, {d_prefix})",
        f"list_slice(q.qvec, 1, {d_prefix})",
    )
    # recall denominator = per-query TRUTH-run size, not the literal k
    # (r11 advice: a truth run shorter than k must not deflate recall)
    return f"""WITH fa AS ({full}), pb AS ({pref}), hits AS (
  SELECT fa.query_id, CAST(count(*) AS BIGINT) AS n_common
  FROM fa JOIN pb USING (query_id, vec_id)
  GROUP BY fa.query_id
), truth AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
  FROM fa GROUP BY query_id
)
SELECT t.query_id, coalesce(h.n_common, 0) AS n_common,
       round(CAST(coalesce(h.n_common, 0) AS DOUBLE)
             / CAST(t.n_truth AS DOUBLE), 6) AS recall
FROM truth t LEFT JOIN hits h USING (query_id)"""


MASE_Q = """WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         sum(CAST(value AS DECIMAL(18,6))) AS y
  FROM events GROUP BY 1, 2
), es AS (
  SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_seasonal,
         sum(CAST(abs(a.y - b.y) AS DECIMAL(38,6))) AS s_seasonal
  FROM hourly a JOIN hourly b
    ON a.event_type = b.event_type
   AND a.h = b.h + INTERVAL 24 HOURS
  GROUP BY 1
), en AS (
  SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_naive,
         sum(CAST(abs(a.y - b.y) AS DECIMAL(38,6))) AS s_naive
  FROM hourly a JOIN hourly b
    ON a.event_type = b.event_type
   AND a.h = b.h + INTERVAL 1 HOURS
  GROUP BY 1
)
SELECT es.event_type, es.n_seasonal, en.n_naive,
  round(CAST(es.s_seasonal AS DOUBLE) / CAST(es.n_seasonal AS DOUBLE), 6)
    AS mae_seasonal,
  round(CAST(en.s_naive AS DOUBLE) / CAST(en.n_naive AS DOUBLE), 6)
    AS mae_naive1,
  CASE WHEN en.s_naive > 0 THEN
    round((CAST(es.s_seasonal AS DOUBLE) / CAST(es.n_seasonal AS DOUBLE))
          / (CAST(en.s_naive AS DOUBLE) / CAST(en.n_naive AS DOUBLE)), 6)
  END AS mase
FROM es JOIN en USING (event_type)"""


def quantile_normalize_sql(m: int = 20) -> str:
    """Twin of operators.profiling.quantile_normalize over per-source
    quality scores (reference = lowest source name): integer-exact
    order-statistic knots knot_j = min{{v : cum(v) >= max(⌈j·total/m⌉,
    1)}} (the window cumsum over the distinct-value histogram here is
    the semantic SPEC; the Spark side locates each knot through the
    driver-folded fixed-width bucket histogram — same knots, no
    data-sized window), same percent_rank + floor(pct·m + 0.5)
    mapping, no percentile interpolation anywhere."""
    # cum >= max(⌈j·total/m⌉, 1) ⟺ m·cum >= j·total: every histogram
    # row has cum >= 1, so the max(,1) clamp only matters at j = 0
    # where 0 >= 0 is already true for every row
    knot_aggs = ", ".join(
        f"min(CASE WHEN cum * {m} >= {j} * total THEN v END) AS k{j}"
        for j in range(m + 1)
    )
    knot_rows = "\n  UNION ALL ".join(
        f"SELECT {j} AS kx, k{j} AS knot_v FROM kw" for j in range(m + 1)
    )
    return f"""WITH ts AS (
  SELECT doc_id, quality_score FROM ({TEXT_STATS_Q})
), scored AS (
  SELECT d.source, d.doc_id, ts.quality_score AS q
  FROM ts JOIN documents d USING (doc_id)
), refsrc AS (
  SELECT min(source) AS source FROM scored
), ref AS (
  SELECT q AS v FROM scored JOIN refsrc USING (source)
), hist AS (
  SELECT v,
    CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS BIGINT) AS cum,
    CAST(sum(c) OVER () AS BIGINT) AS total
  FROM (SELECT v, count(*) AS c FROM ref GROUP BY v)
), kw AS (
  SELECT {knot_aggs} FROM hist
), knots AS (
  {knot_rows}
), rows_ AS (
  SELECT source, doc_id, q,
         percent_rank() OVER (PARTITION BY source ORDER BY q) AS pct
  FROM scored
), mapped AS (
  SELECT source, doc_id, q, pct,
         CAST(floor(pct * {m} + 0.5) AS INT) AS kx
  FROM rows_
)
SELECT mp.source, mp.doc_id, mp.q, round(mp.pct, 6) AS pct,
       k.knot_v AS val_norm
FROM mapped mp JOIN knots k USING (kx)"""


def benford_sql(col: str = "o_totalprice", table: str = "orders") -> str:
    """Twin of operators.expectations.benford_first_digit: same
    regexp-on-decimal-rendering digit extraction (both engines print
    doubles shortest-round-trip; no scientific notation below 1e7),
    same literal log10(1+1/d) expectations, same IEEE chi2 terms."""
    import math

    cases = " ".join(
        f"WHEN {d} THEN {math.log10(1.0 + 1.0 / d)!r}"
        for d in range(1, 10)
    )
    return f"""WITH src AS (
  SELECT regexp_extract(CAST({col} AS VARCHAR), '[1-9]') AS digit
  FROM {table}
), f AS (
  SELECT CAST(digit AS INT) AS digit, CAST(count(*) AS BIGINT) AS n
  FROM src WHERE digit <> '' GROUP BY digit
), spine AS (
  SELECT CAST(unnest(range(1, 10)) AS INT) AS digit
), base AS (
  SELECT s.digit, coalesce(f.n, 0) AS n
  FROM spine s LEFT JOIN f USING (digit)
), t AS (
  SELECT digit, n, sum(n) OVER () AS tot,
         CASE digit {cases} END AS p
  FROM base
)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS frac,
       round(p, 6) AS expected_p,
       round((CAST(n AS DOUBLE) - CAST(tot AS DOUBLE) * p)
             * (CAST(n AS DOUBLE) - CAST(tot AS DOUBLE) * p)
             / (CAST(tot AS DOUBLE) * p), 6) AS chi2_term
FROM t"""


def rbo_sql(k: int = 10, p: float = 0.9) -> str:
    """Twin of operators.retrieval.rbo_overlap over the exact
    (ANN_BRUTE_Q) and IVF (ann_ivf_sql) rankings: same driver-computed
    per-match weight literals W(m) = (1-p)·Σ_{d=m..k} p^(d-1)/d (repr
    round-trips the doubles exactly), same trunc-12dp/DECIMAL sum,
    same 6-dp rounding."""
    wts = [
        (1.0 - p) * sum(p ** (d - 1) / d for d in range(m, k + 1))
        for m in range(1, k + 1)
    ]
    cases = " ".join(
        f"WHEN {m} THEN {w!r}" for m, w in enumerate(wts, start=1)
    )
    return f"""WITH ra AS (
  SELECT query_id, vec_id, rank FROM ({ANN_BRUTE_Q})
), rb AS (
  SELECT query_id, vec_id, rank FROM ({ann_ivf_sql()})
), m AS (
  SELECT ra.query_id,
         CASE greatest(ra.rank, rb.rank) {cases} END AS wt
  FROM ra JOIN rb USING (query_id, vec_id)
), agg AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(CAST(floor(wt * 1e12) / 1e12 AS DECIMAL(32,12)))
              AS DOUBLE) AS s
  FROM m GROUP BY query_id
), qs AS (
  SELECT DISTINCT query_id FROM ra
)
SELECT q.query_id,
       coalesce(a.n_common, 0) AS n_common,
       round(coalesce(a.s, 0.0) / {float(1.0 - p**k)!r}, 6) AS rbo
FROM qs q LEFT JOIN agg a USING (query_id)"""


def phrase_search_sql(n_queries: int = 5) -> str:
    """Twin of operators.retrieval.phrase_search: adjacent-bigram
    expansion replaces the positional join (provably equivalent for a
    two-word phrase — both count positions p with tok[p]=w1,
    tok[p+1]=w2), same (count desc, bigram asc) derived query set."""
    return f"""WITH base AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM base
), topq AS (
  SELECT bigram AS phrase,
         CAST(row_number() OVER (ORDER BY count(*) DESC, bigram ASC) - 1
              AS INT) AS query_id
  FROM bg GROUP BY bigram
  ORDER BY count(*) DESC, bigram ASC LIMIT {n_queries}
)
SELECT q.query_id, q.phrase, b.doc_id,
       CAST(count(*) AS BIGINT) AS n_hits
FROM bg b JOIN topq q ON b.bigram = q.phrase
GROUP BY q.query_id, q.phrase, b.doc_id"""


def containment_pairs_sql(
    n: int = 3, threshold: float = 0.8, df_cutoff: int = 20
) -> str:
    """Twin of operators.dedup.containment_pairs: the NGRAM_JACCARD
    machinery with both containment directions, max-direction
    threshold, and the jaccard_misses flag."""
    return f"""WITH sh AS (
  SELECT doc_id, list_distinct({_word_shingles(TOKS, n)}) AS shingles
  FROM documents
), inv0 AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE len(shingles) > 0
), cold AS (
  SELECT doc_id, shingle FROM inv0
  WHERE shingle NOT IN (
    SELECT shingle FROM inv0 GROUP BY shingle
    HAVING count(*) > {df_cutoff}
  )
), inv AS (
  SELECT c.doc_id, n.n_sh, c.shingle
  FROM cold c JOIN (SELECT doc_id, count(*) AS n_sh FROM cold GROUP BY doc_id) n
    ON c.doc_id = n.doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
         count(*) AS n_inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), scored AS (
  SELECT id_a, id_b,
         CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         CAST(n_inter AS BIGINT) AS n_inter,
         round(CAST(n_inter AS DOUBLE) / n_a, 6) AS c_ab,
         round(CAST(n_inter AS DOUBLE) / n_b, 6) AS c_ba,
         round(CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter), 6) AS jaccard
  FROM pairs
)
SELECT *, (jaccard < {threshold}) AS jaccard_misses
FROM scored
WHERE greatest(c_ab, c_ba) >= {threshold}"""


def zorder_stats_sql(bits: int = 8, buckets_log2: int = 4) -> str:
    """Twin of sources.sinks.zorder_layout_stats over events
    (user_id × event_id): the same span-derived shiftright
    quantization (bit_length via length(bin(x)) with the x=0 guard,
    the HLL precedent), the same 2*bits-term Morton interleave, the
    same fixed-width curve split."""
    z_terms = " + ".join(
        f"(((qa >> {i}) & 1) << {2 * i}) + (((qb >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )

    def shift(span: str) -> str:
        return (
            f"CASE WHEN {span} = 0 THEN 0"
            f" ELSE greatest(0, length(bin({span})) - {bits}) END"
        )

    return f"""WITH mm AS (
  SELECT min(user_id) AS a_mn, max(user_id) AS a_mx,
         min(event_id) AS b_mn, max(event_id) AS b_mx
  FROM events
), q AS (
  SELECT ((coalesce(user_id, a_mn) - a_mn) >> {shift('a_mx - a_mn')}) AS qa,
         ((coalesce(event_id, b_mn) - b_mn) >> {shift('b_mx - b_mn')}) AS qb
  FROM events, mm
), keyed AS (
  SELECT ({z_terms}) >> {2 * bits - buckets_log2} AS bucket, qa, qb FROM q
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       min(qa) AS a_min, max(qa) AS a_max,
       min(qb) AS b_min, max(qb) AS b_max
FROM keyed GROUP BY bucket"""


def _st_quality_ctes(extra_cols: str = "") -> str:
    """tk/st CTE prefix computing the quality-score inputs (n_tokens,
    punct_ratio, stopword_ratio — the corpus_filter_sql shapes);
    ``extra_cols`` ride through both CTEs."""
    xc = (", " + extra_cols) if extra_cols else ""
    return f"""tk AS (
  SELECT doc_id{xc}, text, {TOKS} AS toks FROM documents
), st AS (
  SELECT doc_id{xc}, text, toks,
    CAST(len(toks) AS INT) AS n_tokens,
    CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE (length(text) - length(translate(text, '{_SQL_PUNCT}', '')))
              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE {_hits('en')} / CAST(len(toks) AS DOUBLE) END AS stopword_ratio
  FROM tk
)"""


def weighted_sample_sql(n: int = 200) -> str:
    """Twin of operators.sampling.weighted_sample: the same 6-dp
    quality + 0.1 weight, u = (md5-prefix + 0.5)/2^32, A-ES key
    -ln(u)/w ranked at 12 dp with doc_id ties, bottom-n."""
    return f"""WITH {_st_quality_ctes()},
q AS (
  SELECT doc_id, round({_QUALITY}, 6) + CAST(0.1 AS DOUBLE) AS w FROM st
), keyed AS (
  SELECT doc_id, w,
    round(-ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) + 0.5) / 4294967296.0) / w, 12) AS k12
  FROM q
)
SELECT doc_id, round(w, 6) AS weight, round(k12, 6) AS skey
FROM keyed ORDER BY k12 ASC, doc_id ASC LIMIT {n}"""


def quality_topp_sql(p: str = "0.8") -> str:
    """Twin of operators.sampling.quality_topp: 6-dp quality, DECIMAL
    running/total masses per source, keep while the PRECEDING share
    (12-dp) is below p, (q desc, doc_id asc) order."""
    return f"""WITH {_st_quality_ctes("source")},
q AS (
  SELECT source, doc_id, round({_QUALITY}, 6) AS q FROM st
), r AS (
  SELECT source, doc_id, q,
    coalesce(sum(CAST(q AS DECIMAL(26,12))) OVER (
      PARTITION BY source ORDER BY q DESC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      CAST(0 AS DECIMAL(26,12))) AS cb,
    sum(CAST(q AS DECIMAL(26,12))) OVER (PARTITION BY source) AS tot
  FROM q
)
SELECT source, doc_id, q,
       round(round(CAST(cb AS DOUBLE) / CAST(tot AS DOUBLE), 12), 6)
         AS share_before
FROM r
WHERE round(CAST(cb AS DOUBLE) / CAST(tot AS DOUBLE), 12)
      < CAST({p} AS DOUBLE)"""


def source_jaccard_sql(k: int = 64) -> str:
    """Twin of operators.sketches.source_bottomk_jaccard: distinct
    (source, token) postings, per-source bottom-k md5 sketch, merged
    bottom-k membership estimator beside the exact token-join
    Jaccard."""
    return f"""WITH ex AS (
  SELECT source, unnest({TOKS}) AS token FROM documents
), st AS (
  SELECT DISTINCT source, token FROM ex
), hashed AS (
  SELECT source, md5(token) AS h FROM st
), sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h ASC) AS r
    FROM hashed
  ) WHERE r <= {k}
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_tok FROM st GROUP BY source
), pairs AS (
  SELECT a.source AS source_a, a.n_tok AS n_a,
         b.source AS source_b, b.n_tok AS n_b
  FROM sizes a JOIN sizes b ON a.source < b.source
), inter AS (
  SELECT x.source AS source_a, y.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM st x JOIN st y ON x.token = y.token AND x.source < y.source
  GROUP BY x.source, y.source
), merged AS (
  SELECT p.source_a, p.source_b, s.h, count(*) AS n_sides
  FROM pairs p JOIN sk s ON s.source IN (p.source_a, p.source_b)
  GROUP BY p.source_a, p.source_b, s.h
), est AS (
  SELECT source_a, source_b,
         CAST(count(*) AS BIGINT) AS n_union_k,
         CAST(sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_both
  FROM (
    SELECT source_a, source_b, h, n_sides,
           row_number() OVER (PARTITION BY source_a, source_b
                              ORDER BY h ASC) AS r
    FROM merged
  ) WHERE r <= {k}
  GROUP BY source_a, source_b
)
SELECT p.source_a, p.source_b, p.n_a, p.n_b,
       CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
       round(coalesce(i.n_inter, 0)
             / CAST(p.n_a + p.n_b - coalesce(i.n_inter, 0) AS DOUBLE), 6)
         AS exact_jaccard,
       e.n_union_k, e.n_both,
       round(e.n_both / CAST(e.n_union_k AS DOUBLE), 6) AS est_jaccard
FROM pairs p
LEFT JOIN inter i USING (source_a, source_b)
LEFT JOIN est e USING (source_a, source_b)"""


# Twin of operators.relational.bottleneck_suppliers: the Q21 EXISTS /
# NOT-EXISTS pair rewritten as the same two aggregations (per-order
# max shipdate + supplier count, then the latest-line slice).
BOTTLENECK_SUPPLIERS_Q = """WITH lines AS (
  SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem
), ostats AS (
  SELECT l_orderkey, max(l_shipdate) AS mx,
         count(DISTINCT l_suppkey) AS ns
  FROM lines GROUP BY l_orderkey
), sole AS (
  SELECT l.l_orderkey,
         count(DISTINCT l.l_suppkey) AS nlate,
         max(l.l_suppkey) AS supp
  FROM lines l JOIN ostats o ON l.l_orderkey = o.l_orderkey
  WHERE l.l_shipdate = o.mx AND o.ns >= 2
  GROUP BY l.l_orderkey
), waits AS (
  SELECT supp, CAST(count(*) AS BIGINT) AS numwait
  FROM sole WHERE nlate = 1 GROUP BY supp
)
SELECT s.s_suppkey, s.s_name, w.numwait
FROM waits w JOIN supplier s ON w.supp = s.s_suppkey"""


# Twin of operators.relational.last_touch_attribution: three IGNORE
# NULLS last_values over the same 1-preceding frame necessarily come
# from the same prior row (the NULLs are created by one condition);
# integer-microsecond gap.
ATTRIBUTION_Q = """WITH base AS (
  SELECT event_id, user_id, ts, event_type,
    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS) OVER w AS attr_type,
    last_value(CASE WHEN event_type <> 'purchase' THEN event_id END
               IGNORE NULLS) OVER w AS attr_event_id,
    last_value(CASE WHEN event_type <> 'purchase' THEN ts END
               IGNORE NULLS) OVER w AS attr_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, attr_type, attr_event_id,
       epoch_us(ts) - epoch_us(attr_ts) AS gap_us
FROM base WHERE event_type = 'purchase'"""


# Twin of operators.corpus.zipf_fit: identical top-100 vocabulary cut
# and rank order, OLS via the engines' regr_* over ln/ln, 4-dp round
# (the REGR_SLOPE_Q precedent) with signed-zero normalization.
ZIPF_FIT_Q = f"""WITH vocab AS (
  SELECT token, count(*) AS n
  FROM (SELECT unnest({TOKS}) AS token FROM documents)
  GROUP BY token ORDER BY n DESC, token ASC LIMIT 100
), r AS (
  SELECT row_number() OVER (ORDER BY n DESC, token ASC) AS rank, n
  FROM vocab
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
  round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4)
    + 0.0 AS slope,
  round(regr_intercept(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4)
    + 0.0 AS intercept,
  round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4)
    + 0.0 AS r2
FROM r"""


def histogram_quantiles_sql(
    col: str = "l_extendedprice",
    src: str = "lineitem",
    bins: int = 128,
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    """Twin of operators.sketches.histogram_quantiles: identical bin
    expression and interpolation operation order (width = (hi−lo)/bins
    staged once; frac = (k−cb)/c as double; est = lo+(b+frac)·width),
    k = ceil(p·n) with p forced DOUBLE (DuckDB decimal literals would
    ceil differently), exact = the (k−cb)-th smallest value inside
    the quantile's bin (== max of the first k−cb ordered values, the
    Spark side's pruned TakeOrdered)."""
    p_list = ", ".join(f"CAST({p} AS DOUBLE)" for p in ps)
    return f"""WITH srcv AS (
  SELECT CAST({col} AS DOUBLE) AS v FROM {src}
), st AS (
  SELECT min(v) AS lo, max(v) AS hi, CAST(count(*) AS BIGINT) AS n
  FROM srcv
), b AS (
  SELECT v,
         CAST(least(greatest(floor((v - lo) / ((hi - lo) / {bins}.0)), 0),
                    {bins - 1}) AS INT) AS bin
  FROM srcv, st
), hist AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY bin
), cums AS (
  SELECT bin, c,
         coalesce(sum(c) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM hist
), ps AS (
  SELECT unnest([{p_list}]) AS p
), pick AS (
  SELECT p, CAST(ceil(p * st.n) AS BIGINT) AS k, st.n, st.lo, st.hi
  FROM ps, st
), star AS (
  SELECT pk.p, pk.k, pk.n, pk.lo, pk.hi, c.bin AS bstar, c.cb, c.c
  FROM pick pk JOIN cums c ON c.cb < pk.k AND c.cb + c.c >= pk.k
), est AS (
  SELECT p, k, n, bstar, cb, c,
         lo + (bstar + CAST(k - cb AS DOUBLE) / c)
              * ((hi - lo) / {bins}.0) AS e
  FROM star
), ranked AS (
  SELECT bin, v, row_number() OVER (PARTITION BY bin ORDER BY v) AS r
  FROM b
)
SELECT e.p, e.n,
       round(e.e, 6) AS est_quantile,
       round(r1.v, 6) AS exact_quantile,
       round(abs(r1.v - e.e), 6) AS abs_err
FROM est e JOIN ranked r1 ON r1.bin = e.bstar AND r1.r = e.k - e.cb"""


# ------------------------- round 8b: TPC-H shape completion + skyline

# Twin of operators.relational.late_priority_orders: the Q4 EXISTS as
# a semi join (DuckDB plans the EXISTS the same way); pure counts, no
# float parity concerns.
ORDER_PRIORITY_Q = """SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority"""

# Twin of operators.relational.cust_order_dist: Q13's left join +
# double groupBy; count(o_orderkey) counts matches only so the
# zero-order bucket survives identically.
CUST_ORDER_DIST_Q = """WITH per_cust AS (
  SELECT c.c_custkey,
         CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
             WHERE o_orderpriority <> '4-NOT SPECIFIED') o
    ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
ORDER BY custdist DESC, c_count DESC"""

# Twin of operators.relational.promo_revenue: shared DECIMAL(18,6)
# accumulators cast to DOUBLE in the same places; the 100.0 literal
# is cast DOUBLE (DuckDB decimal literals divide differently).
PROMO_REVENUE_Q = """WITH j AS (
  SELECT CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS rev,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-06-01'
    AND l_shipdate < TIMESTAMP '1997-07-01'
)
SELECT
  round(CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE), 4)
    AS promo_revenue,
  round(CAST(sum(rev) AS DOUBLE), 4) AS total_revenue,
  round(CAST(100.0 AS DOUBLE)
        * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
                        ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        / CAST(sum(rev) AS DOUBLE), 6) AS promo_pct
FROM j"""

# Twin of operators.relational.small_qty_revenue: the per-part cut is
# frac * (decimal-sum-as-double / bigint count) in the same operation
# order; frac cast DOUBLE for the same reason as above.
SMALL_QTY_REVENUE_Q = """WITH l AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#4' AND p_type = 'SMALL'
), means AS (
  SELECT l_partkey AS _pk,
         CAST(0.5 AS DOUBLE)
           * (CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
              / count(*)) AS _cut
  FROM l GROUP BY l_partkey
)
SELECT round(
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
  / CAST(7.0 AS DOUBLE), 4) AS avg_yearly
FROM l JOIN means ON l.l_partkey = means._pk
WHERE l.l_quantity < means._cut"""

# Twin of operators.relational.large_orders: per-order decimal qty
# sums rounded BEFORE the threshold compare, as on the Spark side.
LARGE_ORDERS_Q = """WITH big AS (
  SELECT l_orderkey,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4)
           AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4)
         > CAST(300.0 AS DOUBLE)
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o.o_totalprice, b.sum_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 100"""

# Twin of operators.relational.idle_customers: the scalar AVG is the
# same decimal-sum-over-count double; anti join via NOT EXISTS.
IDLE_CUSTOMERS_Q = """WITH avg_bal AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
         / count(*) AS _avg
  FROM customer WHERE c_acctbal > CAST(0.0 AS DOUBLE)
)
SELECT c.c_nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 4)
         AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal._avg
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey"""

# Twin of operators.relational.discounted_revenue: the same
# OR-of-ANDs residual over the dim join.
DISCOUNTED_REVENUE_Q = """SELECT
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue,
  CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#2'
       AND l_quantity BETWEEN 1.0 AND 11.0 AND p_size BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#4'
       AND l_quantity BETWEEN 10.0 AND 20.0 AND p_size BETWEEN 1 AND 25)
   OR (p_brand = 'Brand#19'
       AND l_quantity BETWEEN 20.0 AND 30.0 AND p_size BETWEEN 1 AND 50)"""

# Twin of operators.relational.skyline_parts — DELIBERATELY the naive
# O(n^2) NOT-EXISTS dominance formulation, so the distributed
# prefix-max construction is cross-checked against an independent
# definition of the skyline rather than a re-walk of the same plan.
SKYLINE_PARTS_Q = """SELECT a.p_partkey, a.p_retailprice, a.p_size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice
    AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
ORDER BY a.p_retailprice, a.p_partkey"""


# Twin of operators.similarity.sq_topk: the same 8-bit scalar
# quantizer — lo = per-dim min, step = (max-min)/255 (computed in
# PYTHON on the Spark side and as double division here: identical
# doubles since min/max over float->double casts are exact), code =
# clamp(floor((v-lo)/step + 0.5), 0, 255) (floor(x+0.5), never
# round(): the engines disagree on round() halfway cases), dequantize
# lo + code*step, approx-cosine shortlist of 50, exact re-rank to 10.
SQ_TOPK_Q = f"""WITH dims AS (
  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
         (max(CAST(embedding[i] AS DOUBLE))
          - min(CAST(embedding[i] AS DOUBLE)))
         / CAST(255.0 AS DOUBLE) AS step
  FROM embeddings, range(1, 65) t(i) GROUP BY i
), stats AS (
  SELECT list(lo ORDER BY i) AS klo, list(step ORDER BY i) AS kstep
  FROM dims
), e AS (
  SELECT vec_id, embedding,
    list_transform(range(1, 65), i ->
      CASE WHEN kstep[i] = 0 THEN klo[i]
           ELSE klo[i]
                + least(greatest(floor((CAST(embedding[i] AS DOUBLE)
                                        - klo[i]) / kstep[i]
                                       + CAST(0.5 AS DOUBLE)),
                                 CAST(0.0 AS DOUBLE)),
                        CAST(255.0 AS DOUBLE)) * kstep[i] END) AS dq
  FROM embeddings, stats
), q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  ORDER BY vec_id LIMIT 5
), scored AS (
  SELECT q.query_id, e.vec_id, e.embedding, q.qvec,
         round({_cosine('e.dq', 'q.qvec')}, 6) AS approx_cosine
  FROM e CROSS JOIN q WHERE e.vec_id != q.query_id
), short AS (
  SELECT query_id, vec_id, embedding, qvec, approx_cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_cosine DESC, vec_id ASC)
           AS srank
  FROM scored
), exact AS (
  SELECT query_id, vec_id, approx_cosine,
         round({_cosine('embedding', 'qvec')}, 6) AS cosine
  FROM short WHERE srank <= 50
)
SELECT query_id, vec_id, approx_cosine, cosine, CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC)
               AS rank
      FROM exact)
WHERE rank <= 10"""


# Twin of operators.timeseries.ewma_anomaly: same half-life weights as
# EXACT powers of two (v / CAST(1 << j AS DOUBLE) — no pow(), whose
# last-ulp behaviour differs between JVM and C libm), same
# newest-first left fold, null values excluded up front (Spark's
# collect_list drops them, DuckDB's list() would keep them).
EWMA_ANOMALY_Q = """WITH ev AS (
  SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS value
  FROM events WHERE value IS NOT NULL
), framed AS (
  SELECT event_id, user_id, value,
         list_reverse(list(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING)) AS rv
  FROM ev
), hist AS (
  SELECT event_id, user_id, value, rv FROM framed WHERE len(rv) >= 4
), folded AS (
  SELECT event_id, user_id, value,
    list_reduce(list_transform(range(1, len(rv) + 1),
                               j -> rv[j] / CAST(1 << j AS DOUBLE)),
                (x, y) -> x + y) AS num,
    list_reduce(list_transform(range(1, len(rv) + 1),
                               j -> CAST(1.0 AS DOUBLE)
                                    / CAST(1 << j AS DOUBLE)),
                (x, y) -> x + y) AS den
  FROM hist
)
SELECT event_id, user_id, value,
       round(num / den, 6) AS pred,
       round(abs(value - num / den), 6) AS abs_dev
FROM folded
ORDER BY round(abs(value - num / den), 6) DESC, event_id ASC
LIMIT 100"""


# Twin of operators.corpus.rake_keywords: identical gaps-and-islands
# phrase construction (pos - row_number per doc; 1-based here vs
# 0-based posexplode — a constant offset inside an opaque group key),
# identical all-occurrence word statistics, and the same integer
# micro-unit freeze (floor(1e6 * degree/freq + 0.5)) before the
# per-phrase sum so aggregation order cannot perturb the score.
RAKE_KEYWORDS_Q = f"""WITH base AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), flat AS (
  SELECT doc_id, s['pos'] AS pos, s['tok'] AS tok
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> {{'pos': i, 'tok': toks[i]}})) AS s
        FROM base)
), ns AS (
  SELECT doc_id, pos, tok,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM flat WHERE tok NOT IN ('the', 'and', 'of', 'to', 'in', 'is', 'that', 'it', 'was', 'for')
), ph AS (
  SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM ns GROUP BY doc_id, grp
), wip AS (
  SELECT doc_id, phrase, plen, unnest(string_split(phrase, ' ')) AS word
  FROM ph
), ws AS (
  SELECT word, count(*) AS freq, sum(plen) AS degree FROM wip GROUP BY word
), sw AS (
  SELECT word,
         CAST(floor(CAST(1000000.0 AS DOUBLE)
                    * (CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE))
                    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS sc
  FROM ws
), pdist AS (
  SELECT DISTINCT doc_id, phrase FROM ph
), wp AS (
  SELECT doc_id, phrase, unnest(string_split(phrase, ' ')) AS word
  FROM pdist
), pscore AS (
  SELECT doc_id, phrase,
         round(CAST(sum(sc) AS DOUBLE) / CAST(1000000.0 AS DOUBLE), 6)
           AS score
  FROM wp JOIN sw USING (word) GROUP BY doc_id, phrase
)
SELECT doc_id, phrase, score, CAST(rank AS INT) AS rank
FROM (SELECT doc_id, phrase, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, phrase ASC) AS rank
      FROM pscore)
WHERE rank <= 3"""


# Twin of operators.skew.join_hotspots: the same two degree
# aggregations + key join; the total is the same exact bigint sum
# cast to double once (Spark pulls it as a literal, the twin carries
# it as a 1-row cross join — identical doubles either way).
JOIN_HOTSPOTS_Q = """WITH da AS (
  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS rows_a
  FROM events GROUP BY user_id
), db AS (
  SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS rows_b
  FROM orders GROUP BY o_custkey
), c AS (
  SELECT da.key, rows_a, rows_b,
         CAST(rows_a * rows_b AS BIGINT) AS out_rows
  FROM da JOIN db ON da.key = db.key
), t AS (
  SELECT CAST(sum(out_rows) AS DOUBLE) AS total FROM c
)
SELECT key, rows_a, rows_b, out_rows,
       round(CAST(out_rows AS DOUBLE) / t.total, 6) AS share
FROM c, t
ORDER BY out_rows DESC, key ASC
LIMIT 20"""


# Twin of multimodal.binaryops.phash_near_dup over the MEDIA_PHASH_Q
# hashes: same 4x4-bit banding, same distinct candidate pairs (>= 1
# shared band within kind, id_a < id_b), same 16 exact substring
# comparisons summed as the Hamming distance.
MEDIA_NEAR_DUP_Q = f"""WITH ph AS (
  SELECT * FROM ({MEDIA_PHASH_Q})
), bd AS (
  SELECT media_id, kind, phash, bi,
         substring(phash, CAST(bi AS INT) * 4 + 1, 4) AS bv
  FROM (SELECT media_id, kind, phash, unnest(range(0, 4)) AS bi FROM ph)
), cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b, a.kind,
         a.phash AS ha, b.phash AS hb
  FROM bd a JOIN bd b
    ON a.kind = b.kind AND a.bi = b.bi AND a.bv = b.bv
   AND a.media_id < b.media_id
)
SELECT id_a, id_b, kind,
       CAST(CASE WHEN substring(ha, 1, 1) <> substring(hb, 1, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 2, 1) <> substring(hb, 2, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 3, 1) <> substring(hb, 3, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 4, 1) <> substring(hb, 4, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 5, 1) <> substring(hb, 5, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 6, 1) <> substring(hb, 6, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 7, 1) <> substring(hb, 7, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 8, 1) <> substring(hb, 8, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 9, 1) <> substring(hb, 9, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 10, 1) <> substring(hb, 10, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 11, 1) <> substring(hb, 11, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 12, 1) <> substring(hb, 12, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 13, 1) <> substring(hb, 13, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 14, 1) <> substring(hb, 14, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 15, 1) <> substring(hb, 15, 1) THEN 1 ELSE 0 END + CASE WHEN substring(ha, 16, 1) <> substring(hb, 16, 1) THEN 1 ELSE 0 END AS INT) AS hamming
FROM cand
ORDER BY hamming ASC, id_a ASC, id_b ASC
LIMIT 50"""


# Twin of operators.sketches.grouped_hll_distinct: HLL_DISTINCT_Q's
# register/harmonic-sum/correction arithmetic verbatim with the group
# column carried through every CTE.
GROUPED_HLL_Q = """WITH h AS (
  SELECT event_type AS grp,
         CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS UBIGINT) AS BIGINT) AS h32
  FROM events
), r AS (
  SELECT grp, CAST(h32 >> 24 AS BIGINT) AS idx,
         CAST(h32 & 16777215 AS BIGINT) AS w
  FROM h
), rho AS (
  SELECT grp, idx,
         CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END AS rho
  FROM r
), regs AS (
  SELECT grp, idx, max(rho) AS reg FROM rho GROUP BY grp, idx
), sk AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_used,
         sum(power(2.0, -reg)) + (256 - count(*)) * 1.0 AS z,
         CAST(256 - count(*) AS DOUBLE) AS v
  FROM regs GROUP BY grp
), ex AS (
  SELECT event_type AS grp,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY event_type
), est AS (
  SELECT sk.grp, n_used, z, v, exact_distinct,
         (0.7213 / (1.0 + 1.079 / 256)) * 256.0 * 256.0 / z AS raw
  FROM sk JOIN ex ON sk.grp = ex.grp
)
SELECT grp AS event_type, CAST(256 AS INT) AS m, n_used,
       round(raw, 6) AS raw_estimate,
       round(CASE WHEN raw <= 640.0 AND v > 0
                  THEN 256.0 * ln(256.0 / v) ELSE raw END, 6) AS estimate,
       exact_distinct,
       round(abs(CASE WHEN raw <= 640.0 AND v > 0
                      THEN 256.0 * ln(256.0 / v) ELSE raw END
                 - exact_distinct) / exact_distinct, 6) AS rel_error
FROM est
ORDER BY event_type"""


# --------------------------------------- round 8c: basket / chi2 / cuped

# Twin of operators.relational.market_basket (min_pair_orders=2,
# top=50, max_basket=64): same distinct-items -> basket-size guard ->
# pair count -> degree join shapes; the association metrics
# interpolate the SAME formula strings (BASKET_*), with the
# retained-order count appearing as a cross-joined scalar here and as
# the one-scalar driver literal on the Spark side.
def market_basket_sql() -> str:
    from .operators.relational import (
        BASKET_CONFIDENCE,
        BASKET_LIFT,
        BASKET_SUPPORT,
    )

    return f"""WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
), sized AS (
  SELECT okey FROM items GROUP BY okey HAVING count(*) <= 64
), kept AS (
  SELECT i.okey, i.part FROM items i JOIN sized s ON i.okey = s.okey
), norders AS (
  SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM kept
), cnt AS (
  SELECT part, CAST(count(*) AS BIGINT) AS cnt FROM kept GROUP BY part
), pairs AS (
  SELECT a.part AS part_a, b.part AS part_b,
         CAST(count(*) AS BIGINT) AS pair_n
  FROM kept a JOIN kept b ON a.okey = b.okey AND a.part < b.part
  GROUP BY a.part, b.part
  HAVING count(*) >= 2
)
, scored AS (
  SELECT p.part_a, p.part_b, p.pair_n,
         ca.cnt AS cnt_a, cb.cnt AS cnt_b, no.n_orders
  FROM pairs p
  JOIN cnt ca ON p.part_a = ca.part
  JOIN cnt cb ON p.part_b = cb.part
  CROSS JOIN norders no
)
SELECT part_a, part_b, pair_n,
       {BASKET_SUPPORT.format(n='n_orders')} AS support,
       {BASKET_CONFIDENCE} AS confidence,
       {BASKET_LIFT.format(n='n_orders')} AS lift,
       cnt_a, cnt_b
FROM scored
ORDER BY lift DESC, part_a, part_b
LIMIT 50"""


# Twin of operators.profiling.chi2_independence on the valid bank
# frame, features (education, housing, job, marital) vs target y:
# UNION ALL plays the role of Spark's stack(); the per-cell term and
# the DECIMAL-routed cross-cell sum interpolate the SAME CHI2_SUM
# formula string.
def chi2_sql() -> str:
    from .operators.profiling import CHI2_SUM

    u = "\n    UNION ALL ".join(
        f"SELECT '{c}' AS feature, {c} AS level, y AS tgt FROM valid"
        for c in ["education", "housing", "job", "marital"]
    )
    return f"""{BANK_PREFIX},
u AS (
    {u}
), cells AS (
  SELECT feature, level, tgt, CAST(count(*) AS BIGINT) AS o
  FROM u GROUP BY feature, level, tgt
), rt AS (
  SELECT feature, level, CAST(sum(o) AS BIGINT) AS row_tot
  FROM cells GROUP BY feature, level
), ct AS (
  SELECT feature, tgt, CAST(sum(o) AS BIGINT) AS col_tot
  FROM cells GROUP BY feature, tgt
), nt AS (
  SELECT feature, CAST(sum(o) AS BIGINT) AS n,
         CAST(count(DISTINCT level) AS BIGINT) AS levels,
         CAST(count(DISTINCT tgt) AS BIGINT) AS classes
  FROM cells GROUP BY feature
), cellx AS (
  SELECT c.feature, c.o, rt.row_tot, ct.col_tot, nt.n, nt.levels,
         nt.classes
  FROM cells c
  JOIN rt ON c.feature = rt.feature AND c.level = rt.level
  JOIN ct ON c.feature = ct.feature AND c.tgt = ct.tgt
  JOIN nt ON c.feature = nt.feature
), stats AS (
  SELECT feature, n, levels, classes, {CHI2_SUM} AS chi2_raw
  FROM cellx GROUP BY feature, n, levels, classes
)
SELECT feature, n, levels, classes,
       CAST((levels - 1) * (classes - 1) AS BIGINT) AS dof,
       round(chi2_raw, 6) AS chi2,
       round(sqrt(chi2_raw / (CAST(n AS DOUBLE)
             * CAST(least(levels - 1, classes - 1) AS DOUBLE))), 6)
         AS cramers_v
FROM stats ORDER BY feature"""


# Twin of operators.experiments.cuped_report (cutoff 2024-01-16): the
# per-user pre/post DECIMAL sums, the nine sufficient statistics and
# every closed-form output interpolate the SAME CUPED_* formula
# strings; only the arm nibble differs in syntax (DuckDB '0x' cast vs
# Spark conv — same md5 nibble, same parity bit).
def cuped_sql() -> str:
    from .operators.experiments import (
        CUPED_DIFF_RAW,
        CUPED_DIFF_X,
        CUPED_SUM_TERMS,
        CUPED_THETA,
        CUPED_VAR_ADJ,
        CUPED_VAR_Y,
        CUPED_X,
        CUPED_Y,
    )
    from .operators.relational import ols2_sum_sql

    sums = ",\n         ".join(
        ols2_sum_sql(t, a) for t, a in CUPED_SUM_TERMS
    )
    x = CUPED_X.format(ts="ts", cut="2024-01-16 00:00:00", v="value")
    y = CUPED_Y.format(ts="ts", cut="2024-01-16 00:00:00", v="value")
    return f"""WITH peru AS (
  SELECT user_id AS uid,
         {x} AS x,
         {y} AS y
  FROM events GROUP BY user_id
), armed AS (
  SELECT uid, x, y,
         CAST(CAST('0x' || substring(md5(CAST(uid AS VARCHAR)), 1, 1)
              AS INT) % 2 AS INT) AS arm
  FROM peru
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(count(*) AS DOUBLE) AS nn,
         CAST(sum(arm) AS BIGINT) AS n1,
         CAST(sum(1 - arm) AS BIGINT) AS n0,
         {sums}
  FROM armed
)
SELECT n_users, n1 AS n_treat, n0 AS n_ctrl,
       round({CUPED_THETA}, 6) + 0.0 AS theta,
       round({CUPED_DIFF_RAW}, 6) + 0.0 AS diff_raw,
       round(({CUPED_DIFF_RAW}) - ({CUPED_THETA})
             * ({CUPED_DIFF_X}), 6) + 0.0 AS diff_cuped,
       round({CUPED_VAR_Y}, 6) + 0.0 AS var_y,
       round({CUPED_VAR_ADJ}, 6) + 0.0 AS var_adj,
       round(CAST(100 AS DOUBLE) * (CAST(1 AS DOUBLE)
             - ({CUPED_VAR_ADJ}) / nullif({CUPED_VAR_Y}, 0.0)), 6)
         + 0.0 AS var_reduction_pct
FROM stats"""


MARKET_BASKET_Q = market_basket_sql()
CHI2_Q = chi2_sql()
CUPED_Q = cuped_sql()


# Twin of operators.sketches.theta_intersections (k=128 on
# events.event_type x user_id): same distinct-(grp, h32) reduction,
# rank-k sketch, min-theta pairing and strict-below-threshold
# candidate counting; the fraction/estimate expressions interpolate
# the SAME THETA_FRAC-derived strings. h32 derivation differs only in
# engine syntax (DuckDB '0x' cast vs Spark conv — same 32-bit int).
def theta_sql(k: int = 128) -> str:
    from .operators.sketches import THETA_FRAC

    frac = THETA_FRAC.format(h="thr")
    est_i = f"round(CAST(n_candidates AS DOUBLE) / ({frac}), 6)"
    est_u = f"round(CAST(n_union AS DOUBLE) / ({frac}), 6)"
    return f"""WITH h AS (
  SELECT DISTINCT event_type AS grp,
         CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS UBIGINT) AS BIGINT) AS h32
  FROM events
), ranked AS (
  SELECT grp, h32,
         row_number() OVER (PARTITION BY grp ORDER BY h32) AS rn
  FROM h
), sk AS (
  SELECT grp, h32 FROM ranked WHERE rn <= {k}
), gs AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_kept, max(h32) AS kth
  FROM sk GROUP BY grp
), gs2 AS (
  SELECT grp,
         CASE WHEN n_kept < {k} THEN CAST(4294967296 AS BIGINT)
              ELSE kth END AS thr
  FROM gs
), pairs AS (
  SELECT a.grp AS type_a, b.grp AS type_b, least(a.thr, b.thr) AS thr
  FROM gs2 a JOIN gs2 b ON a.grp < b.grp
), inter AS (
  SELECT p.type_a, p.type_b, CAST(count(*) AS BIGINT) AS n_candidates
  FROM pairs p
  JOIN sk sa ON sa.grp = p.type_a
  JOIN sk sb ON sb.grp = p.type_b AND sb.h32 = sa.h32
  WHERE sa.h32 < p.thr
  GROUP BY p.type_a, p.type_b
), cand AS (
  SELECT p.type_a, p.type_b, sa.h32
  FROM pairs p JOIN sk sa ON sa.grp = p.type_a
  WHERE sa.h32 < p.thr
  UNION
  SELECT p.type_a, p.type_b, sb.h32
  FROM pairs p JOIN sk sb ON sb.grp = p.type_b
  WHERE sb.h32 < p.thr
), uni AS (
  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_union
  FROM cand GROUP BY type_a, type_b
), members AS (
  SELECT DISTINCT event_type AS grp, user_id AS m FROM events
), exact_i AS (
  SELECT ma.grp AS type_a, mb.grp AS type_b,
         CAST(count(*) AS BIGINT) AS exact_intersection
  FROM members ma JOIN members mb ON ma.m = mb.m AND ma.grp < mb.grp
  GROUP BY ma.grp, mb.grp
), sizes AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS sz FROM members GROUP BY grp
), filled AS (
  SELECT p.type_a, p.type_b, p.thr,
         CAST(coalesce(i.n_candidates, 0) AS BIGINT) AS n_candidates,
         CAST(coalesce(u.n_union, 0) AS BIGINT) AS n_union,
         CAST(coalesce(e.exact_intersection, 0) AS BIGINT) AS exact_i,
         CAST(za.sz + zb.sz - coalesce(e.exact_intersection, 0)
              AS BIGINT) AS exact_u
  FROM pairs p
  LEFT JOIN inter i ON p.type_a = i.type_a AND p.type_b = i.type_b
  LEFT JOIN uni u ON p.type_a = u.type_a AND p.type_b = u.type_b
  LEFT JOIN exact_i e ON p.type_a = e.type_a AND p.type_b = e.type_b
  JOIN sizes za ON p.type_a = za.grp
  JOIN sizes zb ON p.type_b = zb.grp
)
SELECT type_a, type_b, CAST({k} AS INT) AS k,
       round({frac}, 6) AS theta,
       n_candidates,
       {est_i} AS est_intersection,
       exact_i AS exact_intersection,
       {est_u} AS est_union,
       exact_u AS exact_union,
       round(abs({est_i} - CAST(exact_i AS DOUBLE))
             / CAST(greatest(exact_i, 1) AS DOUBLE), 6) AS rel_error
FROM filled
ORDER BY type_a, type_b"""


# Twin of operators.expectations.dp_counts (epsilon=1.0 on
# events.event_type x day): same cell aggregation; the uniform and the
# inverse-CDF Laplace interpolate the SAME DP_U/DP_NOISE strings over
# the engine-local h32 derivation.
def dp_counts_sql(epsilon: float = 1.0) -> str:
    from .operators.expectations import DP_NOISE, DP_U

    b = f"CAST({1.0 / epsilon!r} AS DOUBLE)"
    u = DP_U.format(
        h32="CAST(CAST('0x' || substring(md5(grp || '|' ||"
        " CAST(day AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT)"
    )
    return f"""WITH cells AS (
  SELECT event_type AS grp, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS true_n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), keyed AS (
  SELECT grp, day, true_n, {u} AS u FROM cells
), noised AS (
  SELECT grp, day, true_n,
         round({DP_NOISE.format(b=b)}, 6) + 0.0 AS noise
  FROM keyed
), released AS (
  SELECT grp, day, true_n, noise,
         CAST(greatest(CAST(0 AS BIGINT),
              CAST(round(CAST(true_n AS DOUBLE) + noise, 0) AS BIGINT))
              AS BIGINT) AS released_n
  FROM noised
)
SELECT grp, CAST(day AS VARCHAR) AS day, true_n, noise, released_n,
       round(abs(CAST(released_n AS DOUBLE)
             - CAST(true_n AS DOUBLE)), 6) AS abs_err,
       CAST({epsilon!r} AS DOUBLE) AS epsilon
FROM released
ORDER BY grp, day"""


THETA_Q = theta_sql()
DP_COUNTS_Q = dp_counts_sql()


# Twin of operators.similarity.maxsim_topk (m=4 slices of a 64-dim
# vector, 5 lowest-id queries, k=10): same slice decomposition (UNION
# ALL plays posexplode), the shared _cosine left-fold per slice pair,
# per-query-slice MAX and the FIXED-ORDER slice sum s0+s1+s2+s3.
def maxsim_sql(k: int = 10, m: int = 4, dim: int = 64) -> str:
    w = dim // m
    dsl = "\n  UNION ALL ".join(
        f"SELECT vec_id, {j} AS d_slice,"
        f" list_slice(embedding, {j * w + 1}, {j * w + w}) AS dvec"
        " FROM embeddings"
        for j in range(m)
    )
    qsl = "\n  UNION ALL ".join(
        f"SELECT query_id, {j} AS q_slice,"
        f" list_slice(qvec, {j * w + 1}, {j * w + w}) AS qv FROM q"
        for j in range(m)
    )
    smax = ",\n         ".join(
        f"max(CASE WHEN q_slice = {j} THEN sim END) AS s{j}"
        for j in range(m)
    )
    score = " + ".join(f"s{j}" for j in range(m))
    return f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  ORDER BY vec_id LIMIT 5
), dsl AS (
  {dsl}
), qsl AS (
  {qsl}
), sims AS (
  SELECT qs.query_id, d.vec_id, qs.q_slice,
         {_cosine('d.dvec', 'qs.qv')} AS sim
  FROM dsl d CROSS JOIN qsl qs
  WHERE d.vec_id != qs.query_id
), slice_max AS (
  SELECT query_id, vec_id,
         {smax}
  FROM sims GROUP BY query_id, vec_id
), scored AS (
  SELECT query_id, vec_id, round({score}, 6) AS maxsim
  FROM slice_max
), ranked AS (
  SELECT query_id, vec_id, maxsim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY maxsim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, maxsim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}"""


MAXSIM_Q = maxsim_sql()


# Twin of queries.bucketed_join: the bucketing is a LAYOUT property —
# the relational answer is a plain key join + segment rollup with the
# shared decimal-exact revenue sum.
BUCKETED_JOIN_Q = """SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
             AS DOUBLE), 4) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment"""


# Twin of operators.corpus.textrank_keywords (en stoplist, 3
# iterations, top 20): same candidate filtering, lead()-window
# pairing, symmetrized distinct edges, and the pagerank_sql iteration
# shape (floor-truncated 12dp contributions, DECIMAL(32,12)-exact
# sums, 0.15/0.85 damping) unrolled over the word graph.
def textrank_sql(iters: int = 3, top: int = 20) -> str:
    from .functions.texttools import STOPWORDS

    def t12(expr: str) -> str:
        return f"floor(({expr}) * 1e12) / 1e12"

    stops = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    parts = [
        f"""WITH base AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), flat AS (
  SELECT doc_id, s['pos'] AS pos, s['tok'] AS tok
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> {{'pos': i, 'tok': toks[i]}})) AS s
        FROM base)
), cand AS (
  SELECT doc_id, pos, tok FROM flat WHERE tok NOT IN ({stops})
), pairs AS (
  SELECT tok AS a,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
  FROM cand
), half AS (
  SELECT DISTINCT a, b FROM pairs WHERE b IS NOT NULL AND a <> b
), edges AS (
  SELECT a AS src, b AS dst FROM half
  UNION
  SELECT b AS src, a AS dst FROM half
), deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
ed AS (SELECT e0.src, e0.dst, d.deg
       FROM edges e0 JOIN deg d ON e0.src = d.src),
r0 AS (SELECT src AS node, {t12('CAST(1.0 AS DOUBLE) / nn.n')} AS r
       FROM deg CROSS JOIN nn)"""
    ]
    for k in range(1, iters + 1):
        newr = (
            "CAST(0.15 AS DOUBLE) / max(nn.n) + CAST(0.85 AS DOUBLE)"
            " * CAST(sum(CAST(" + t12("p.r / e.deg")
            + " AS DECIMAL(32,12))) AS DOUBLE)"
        )
        parts.append(
            f""",
r{k} AS (
  SELECT e.dst AS node, {t12(newr)} AS r
  FROM ed e JOIN r{k - 1} p ON e.src = p.node CROSS JOIN nn
  GROUP BY e.dst
)"""
        )
    parts.append(
        f"""
SELECT token, score, rank FROM (
  SELECT node AS token, r AS score,
         CAST(row_number() OVER (ORDER BY r DESC, node ASC) AS INT)
           AS rank
  FROM r{iters}
) ranked WHERE rank <= {top}"""
    )
    return "".join(parts)


TEXTRANK_Q = textrank_sql()


# Twin of operators.experiments.srm_check (and the batch-equivalence
# oracle of streaming.events.srm_stream): distinct users, the
# engine-local md5-nibble arm, and the shared SRM_CHI2 text.
def srm_sql() -> str:
    from .operators.experiments import SRM_CHI2, SRM_CRIT

    return f"""WITH users AS (
  SELECT DISTINCT user_id AS uid FROM events
), armed AS (
  SELECT uid,
         CAST(CAST('0x' || substring(md5(CAST(uid AS VARCHAR)), 1, 1)
              AS INT) % 2 AS INT) AS arm
  FROM users
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(arm) AS BIGINT) AS n1,
         CAST(sum(1 - arm) AS BIGINT) AS n0
  FROM armed
)
SELECT n_users, n1 AS n_treat, n0 AS n_ctrl,
       round({SRM_CHI2}, 6) AS chi2_srm,
       ({SRM_CHI2}) > {SRM_CRIT} AS srm_detected
FROM stats"""


SRM_Q = srm_sql()


# Twin of operators.experiments.msprt_monitor: same md5-nibble arm,
# day x arm partial sums through the trunc-12dp/DECIMAL ladder,
# cumulative window over days, and the shared MSPRT_* formula text.
def msprt_sql(alpha: float = 0.05) -> str:
    from .operators.experiments import MSPRT_DELTA, MSPRT_LAMBDA

    t12 = "floor(({x}) * 1e12) / 1e12"
    dsum = (
        "sum(CASE WHEN arm = {a} THEN CAST("
        + t12
        + " AS DECIMAL(32,12)) ELSE CAST(0 AS DECIMAL(32,12)) END)"
    )
    return f"""WITH armed AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
              AS INT) % 2 AS INT) AS arm,
         CAST(value AS DOUBLE) AS v
  FROM events
), daily AS (
  SELECT day,
         CAST(sum(arm) AS BIGINT) AS d_n1,
         {dsum.format(a=1, x="v")} AS d_s1,
         {dsum.format(a=1, x="v * v")} AS d_q1,
         CAST(sum(1 - arm) AS BIGINT) AS d_n0,
         {dsum.format(a=0, x="v")} AS d_s0,
         {dsum.format(a=0, x="v * v")} AS d_q0
  FROM armed GROUP BY day
), cum AS (
  SELECT day,
         CAST(sum(d_n1) OVER w AS DOUBLE) AS cn1,
         CAST(sum(d_s1) OVER w AS DOUBLE) AS cs1,
         CAST(sum(d_q1) OVER w AS DOUBLE) AS cq1,
         CAST(sum(d_n0) OVER w AS DOUBLE) AS cn0,
         CAST(sum(d_s0) OVER w AS DOUBLE) AS cs0,
         CAST(sum(d_q0) OVER w AS DOUBLE) AS cq0
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), scored AS (
  SELECT day,
         CAST(cn1 AS BIGINT) AS n_treat,
         CAST(cn0 AS BIGINT) AS n_ctrl,
         round({MSPRT_DELTA}, 6) + 0.0 AS mean_diff,
         round({MSPRT_LAMBDA}, 6) + 0.0 AS lambda_ratio,
         least(1.0, 1.0 / {MSPRT_LAMBDA}) AS _p_raw
  FROM cum WHERE cn1 >= 2 AND cn0 >= 2
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       n_treat, n_ctrl, mean_diff, lambda_ratio,
       round(min(_p_raw) OVER wm, 6) AS p_always_valid,
       (min(_p_raw) OVER wm < {alpha}) AS reject_h0
FROM scored
WINDOW wm AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW)"""


MSPRT_Q = msprt_sql()


_WOE_DP = "((CAST(n_pos AS DOUBLE) + 0.5) / (_tp + 0.5 * _k))"
_WOE_DN = "((CAST(n - n_pos AS DOUBLE) + 0.5) / (_tn + 0.5 * _k))"
_WOE = f"ln({_WOE_DP} / {_WOE_DN})"
_WOE_TERM = f"({_WOE_DP} - {_WOE_DN}) * ({_WOE})"


# Twin of operators.profiling.woe_iv over the valid bank rows
# (label y = 'yes'; categorical features melted via unnest): identical
# +0.5 Laplace smoothing (the psi_table convention), shared ln shape,
# per-feature IV through the trunc-12dp/DECIMAL ladder.
WOE_IV_Q = f"""{BANK_PREFIX},
melted AS (
  SELECT CASE WHEN y = 'yes' THEN 1 ELSE 0 END AS pos,
         u['f'] AS feature, u['c'] AS category
  FROM (SELECT y, unnest([
      {{'f': 'job', 'c': job}},
      {{'f': 'marital', 'c': marital}},
      {{'f': 'education', 'c': education}},
      {{'f': 'housing', 'c': housing}},
      {{'f': 'loan', 'c': loan}},
      {{'f': 'poutcome', 'c': poutcome}},
      {{'f': 'contact', 'c': contact}}]) AS u FROM valid)
),
per AS (
  SELECT feature, category, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos
  FROM melted GROUP BY feature, category
),
tot AS (
  SELECT feature, category, n, n_pos,
         CAST(sum(n_pos) OVER wf AS DOUBLE) AS _tp,
         CAST(sum(n - n_pos) OVER wf AS DOUBLE) AS _tn,
         CAST(count(*) OVER wf AS DOUBLE) AS _k
  FROM per
  WINDOW wf AS (PARTITION BY feature)
),
scored AS (
  SELECT feature, category, n, n_pos,
         round({_WOE_DP}, 6) + 0.0 AS dist_pos,
         round({_WOE_DN}, 6) + 0.0 AS dist_neg,
         round({_WOE}, 6) + 0.0 AS woe,
         round({_WOE_TERM}, 6) + 0.0 AS iv_term,
         CAST(floor(({_WOE_TERM}) * 1e12) / 1e12 AS DECIMAL(32,12)) AS _t12
  FROM tot
)
SELECT feature, category, n, n_pos, dist_pos, dist_neg, woe, iv_term,
       round(CAST(sum(_t12) OVER (PARTITION BY feature) AS DOUBLE), 6) AS iv
FROM scored"""


# Twin of operators.corpus.judge_agreement: judge A = the full
# QUALITY_ENSEMBLE_Q verdict, judge B = XENT_BUCKETS_Q bucket !=
# 'tail'; the po/pe/kappa expressions interpolate the SAME KAPPA_*
# strings over the exact 4-cell counts.
def judge_agreement_sql() -> str:
    from .operators.corpus import KAPPA_PE, KAPPA_PO

    return f"""WITH qa AS (
  SELECT doc_id, CAST(kept AS INT) AS ja FROM ({QUALITY_ENSEMBLE_Q}) tq
), qb AS (
  SELECT doc_id, CASE WHEN bucket <> 'tail' THEN 1 ELSE 0 END AS jb
  FROM ({XENT_BUCKETS_Q}) tx
), j AS (
  SELECT qa.ja, qb.jb FROM qa JOIN qb ON qa.doc_id = qb.doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ja * jb) AS BIGINT) AS n11,
         CAST(sum(ja * (1 - jb)) AS BIGINT) AS n10,
         CAST(sum((1 - ja) * jb) AS BIGINT) AS n01,
         CAST(sum((1 - ja) * (1 - jb)) AS BIGINT) AS n00
  FROM j
)
SELECT n, n11, n10, n01, n00,
       round({KAPPA_PO}, 6) AS po,
       round({KAPPA_PE}, 6) AS pe,
       round(({KAPPA_PO} - ({KAPPA_PE}))
             / nullif(CAST(1 AS DOUBLE) - ({KAPPA_PE}), 0.0), 6)
         + 0.0 AS kappa
FROM stats"""


# Twin of operators.experiments.bootstrap_ci (orders.o_totalprice,
# B=32): same row×replica expansion, md5-uniform -> shared Poisson(1)
# CASE, DECIMAL-exact replica sums, order-statistic interval and
# DECIMAL-routed bootstrap SE.
def bootstrap_sql(b: int = 32) -> str:
    from .operators.experiments import poisson1_weight_sql
    from .operators.relational import ols2_sum_sql

    u = (
        "CAST(CAST('0x' || substring(md5(CAST(id AS VARCHAR) || ':'"
        " || CAST(b AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT)"
        " / CAST(4294967296 AS DOUBLE)"
    )
    sums = ",\n         ".join(
        ols2_sum_sql(t, a)
        for t, a in [("mean_b", "sm"), ("mean_b * mean_b", "smm")]
    )
    return f"""WITH expanded AS (
  SELECT o_orderkey AS id, o_totalprice AS value, r.b
  FROM orders CROSS JOIN (SELECT unnest(range(0, {b})) AS b) r
), uni AS (
  SELECT id, value, b, {u} AS u FROM expanded
), weighted AS (
  SELECT id, value, b, {poisson1_weight_sql('u')} AS w FROM uni
), reps AS (
  SELECT b,
         CAST(sum(CAST(CAST(w AS DOUBLE) * value AS DECIMAL(28,12)))
              AS DOUBLE) AS total,
         CAST(sum(w) AS BIGINT) AS nb
  FROM weighted GROUP BY b
), means AS (
  SELECT b, total / nullif(CAST(nb AS DOUBLE), 0.0) AS mean_b FROM reps
), ranked AS (
  SELECT b, mean_b,
         row_number() OVER (ORDER BY mean_b ASC, b ASC) AS rk
  FROM means
), bounds AS (
  SELECT round(max(CASE WHEN rk = 2 THEN mean_b END), 6) AS ci_lo,
         round(max(CASE WHEN rk = {b - 1} THEN mean_b END), 6) AS ci_hi,
         CAST(count(*) AS DOUBLE) AS bb,
         {sums}
  FROM ranked
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sv
  FROM orders
)
SELECT n_rows, CAST({b} AS INT) AS b_replicas,
       round(sv / CAST(n_rows AS DOUBLE), 6) AS est_mean,
       ci_lo, ci_hi,
       round(sqrt((bb * smm - sm * sm) / (bb * (bb - 1))), 6) AS se_boot
FROM base CROSS JOIN bounds"""


JUDGE_AGREEMENT_Q = judge_agreement_sql()
BOOTSTRAP_CI_Q = bootstrap_sql()


# Twin of operators.experiments.did_report (cutoff 2024-01-16): same
# per-user pre/post DECIMAL sums and arm nibble as CUPED_Q, the DID_*
# formula strings interpolated verbatim.
def did_sql() -> str:
    from .operators.experiments import (
        CUPED_X,
        CUPED_Y,
        DID_EFFECT,
        DID_MEAN,
        DID_SE,
    )
    from .operators.relational import ols2_sum_sql

    terms = [
        ("CASE WHEN arm = 1 THEN y ELSE CAST(0 AS DOUBLE) END", "sy1"),
        ("CASE WHEN arm = 0 THEN y ELSE CAST(0 AS DOUBLE) END", "sy0"),
        ("CASE WHEN arm = 1 THEN x ELSE CAST(0 AS DOUBLE) END", "sx1"),
        ("CASE WHEN arm = 0 THEN x ELSE CAST(0 AS DOUBLE) END", "sx0"),
        ("CASE WHEN arm = 1 THEN d ELSE CAST(0 AS DOUBLE) END", "sd1"),
        ("CASE WHEN arm = 0 THEN d ELSE CAST(0 AS DOUBLE) END", "sd0"),
        ("CASE WHEN arm = 1 THEN d * d ELSE CAST(0 AS DOUBLE) END", "sdd1"),
        ("CASE WHEN arm = 0 THEN d * d ELSE CAST(0 AS DOUBLE) END", "sdd0"),
    ]
    sums = ",\n         ".join(ols2_sum_sql(t, a) for t, a in terms)
    x = CUPED_X.format(ts="ts", cut="2024-01-16 00:00:00", v="value")
    y = CUPED_Y.format(ts="ts", cut="2024-01-16 00:00:00", v="value")
    return f"""WITH peru AS (
  SELECT user_id AS uid,
         {x} AS x,
         {y} AS y
  FROM events GROUP BY user_id
), armed AS (
  SELECT uid, x, y, y - x AS d,
         CAST(CAST('0x' || substring(md5(CAST(uid AS VARCHAR)), 1, 1)
              AS INT) % 2 AS INT) AS arm
  FROM peru
), stats AS (
  SELECT CAST(sum(arm) AS BIGINT) AS n1,
         CAST(sum(1 - arm) AS BIGINT) AS n0,
         {sums}
  FROM armed
)
SELECT n1 AS n_treat, n0 AS n_ctrl,
       round({DID_MEAN.format(s='sx1', n='n1')}, 6) + 0.0 AS pre_treat,
       round({DID_MEAN.format(s='sy1', n='n1')}, 6) + 0.0 AS post_treat,
       round({DID_MEAN.format(s='sx0', n='n0')}, 6) + 0.0 AS pre_ctrl,
       round({DID_MEAN.format(s='sy0', n='n0')}, 6) + 0.0 AS post_ctrl,
       round({DID_EFFECT}, 6) + 0.0 AS did,
       round({DID_SE}, 6) + 0.0 AS se_did,
       round(({DID_EFFECT}) / nullif({DID_SE}, 0.0), 6) + 0.0 AS t_stat
FROM stats"""


DID_Q = did_sql()


# Twin of queries.orc_roundtrip: aggregates the parquet ORIGINAL — a
# hash match therefore proves the ORC staging round-trip was lossless
# (values, distincts, decimal sums, timestamp micros).
ORC_ROUNDTRIP_Q = """SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
         AS sum_value,
       epoch_us(min(ts)) AS first_us,
       epoch_us(max(ts)) AS last_us
FROM events
GROUP BY event_type
ORDER BY event_type"""


# Twin of operators.dedup.winnow_pairs (k=3, w=4, min_shared=2,
# df_cutoff=32, top=50): same positioned shingle hashes, forward
# rolling min m(s), backward rolling max-of-m selection rule,
# df-cutoff anti-join and inverted-index pairing. Positions are
# 1-based here vs posexplode's 0-based — they only order the window
# frames, which clip identically.
def winnow_sql(
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    df_cutoff: int = 32,
    top: int = 50,
) -> str:
    return f"""WITH base AS (
  SELECT doc_id AS doc, {_word_shingles(TOKS, k)} AS shs FROM documents
), flat AS (
  SELECT doc, s['pos'] AS pos, substring(md5(s['sh']), 1, 16) AS h
  FROM (SELECT doc,
               unnest(list_transform(range(1, len(shs) + 1),
                      i -> {{'pos': i, 'sh': shs[i]}})) AS s
        FROM base)
), marked AS (
  SELECT doc, pos, h,
         min(h) OVER (PARTITION BY doc ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
           AS m
  FROM flat
), sel AS (
  SELECT doc, pos, h,
         max(m) OVER (PARTITION BY doc ORDER BY pos
                      ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
           AS mm
  FROM marked
), fps AS (
  SELECT DISTINCT doc, h FROM sel WHERE mm = h
), hot AS (
  SELECT h FROM fps GROUP BY h HAVING count(*) > {df_cutoff}
), kept AS (
  SELECT f.doc, f.h FROM fps f
  LEFT JOIN hot ON f.h = hot.h WHERE hot.h IS NULL
), counts AS (
  SELECT doc, CAST(count(*) AS BIGINT) AS fp FROM kept GROUP BY doc
), pairs AS (
  SELECT a.doc AS id_a, b.doc AS id_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b ON a.h = b.h AND a.doc < b.doc
  GROUP BY a.doc, b.doc
  HAVING count(*) >= {min_shared}
)
SELECT p.id_a, p.id_b, p.n_shared,
       ca.fp AS fp_a, cb.fp AS fp_b,
       round(CAST(p.n_shared AS DOUBLE)
             / CAST(least(ca.fp, cb.fp) AS DOUBLE), 6) AS overlap
FROM pairs p
JOIN counts ca ON p.id_a = ca.doc
JOIN counts cb ON p.id_b = cb.doc
ORDER BY n_shared DESC, id_a, id_b
LIMIT {top}"""


WINNOW_Q = winnow_sql()


# Twin of operators.dedup.substr_dedup (min_tokens=8): same L-token
# sliding windows (word_shingles), md5 fingerprints, occ>=2 groupBy,
# and the span-touch island coalesce (positions merge when their gap
# is <= L, i.e. the L-token spans touch or overlap). DuckDB's range()
# is 1-based where posexplode is 0-based — the -1 keeps offsets
# identical; gaps and the lag() breaks are invariant to the shared
# constant shift.
def substr_dedup_sql(min_tokens: int = 8) -> str:
    L = min_tokens
    return f"""WITH base AS (
  SELECT doc_id AS doc, {_word_shingles(TOKS, L)} AS wins FROM documents
), flat AS (
  SELECT doc, s['pos'] - 1 AS pos, md5(s['win']) AS h
  FROM (SELECT doc,
               unnest(list_transform(range(1, len(wins) + 1),
                      i -> {{'pos': i, 'win': wins[i]}})) AS s
        FROM base)
), counts AS (
  SELECT h, CAST(count(*) AS BIGINT) AS occ
  FROM flat GROUP BY h HAVING count(*) >= 2
), dup AS (
  SELECT f.doc, f.pos, c.occ FROM flat f JOIN counts c ON f.h = c.h
), brk AS (
  SELECT doc, pos, occ,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc ORDER BY pos)
                   <= {L} THEN 0 ELSE 1 END AS b
  FROM dup
), isl AS (
  SELECT doc, pos, occ,
         sum(b) OVER (PARTITION BY doc ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS grp
  FROM brk
)
SELECT doc AS doc_id,
       CAST(min(pos) AS BIGINT) AS start_tok,
       CAST(max(pos) + {L - 1} AS BIGINT) AS end_tok,
       CAST(max(pos) + {L - 1} - min(pos) + 1 AS BIGINT) AS span_tokens,
       CAST(max(occ) AS BIGINT) AS max_occ
FROM isl GROUP BY doc, grp"""


SUBSTR_DEDUP_Q = substr_dedup_sql()


# Twin of operators.dedup.substr_dedup_incremental (batch = doc_id %
# 5 == 0 vs the rest; min_tokens=8): batch windows probed against the
# corpus's distinct window fingerprints, islands coalesced per batch
# doc.
def substr_incr_sql(min_tokens: int = 8) -> str:
    L = min_tokens
    return f"""WITH wins AS (
  SELECT doc_id AS doc, s['pos'] - 1 AS pos, md5(s['win']) AS h
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(wins) + 1),
                      i -> {{'pos': i, 'win': wins[i]}})) AS s
        FROM (SELECT doc_id, {_word_shingles(TOKS, L)} AS wins
              FROM documents))
), idx AS (
  SELECT DISTINCT h FROM wins WHERE doc % 5 <> 0
), dup AS (
  SELECT w.doc, w.pos FROM wins w JOIN idx ON w.h = idx.h
  WHERE w.doc % 5 = 0
), brk AS (
  SELECT doc, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc ORDER BY pos)
                   <= {L} THEN 0 ELSE 1 END AS b
  FROM dup
), isl AS (
  SELECT doc, pos,
         sum(b) OVER (PARTITION BY doc ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS grp
  FROM brk
)
SELECT doc AS doc_id,
       CAST(min(pos) AS BIGINT) AS start_tok,
       CAST(max(pos) + {L - 1} AS BIGINT) AS end_tok,
       CAST(max(pos) + {L - 1} - min(pos) + 1 AS BIGINT) AS span_tokens
FROM isl GROUP BY doc, grp"""


SUBSTR_INCR_Q = substr_incr_sql()


# Twin of operators.similarity.top_principal_component (d inferred at
# generation time; iters=6): one unnest pass to the d x d second
# moments, unrolled MATERIALIZED power steps with the identical
# trunc-12dp/DECIMAL ladder, Rayleigh quotient + trace at the end.
def top_pc_sql(d: int = 64, iters: int = 6) -> str:
    t12 = "floor(({x}) * 1e12) / 1e12"
    dsum = "CAST(sum(CAST(" + t12 + " AS DECIMAL(32,12))) AS DOUBLE)"
    # moment cells sum the EXACT per-element integers (the Spark side's
    # Arrow-batched int64 partials), then divide the double once —
    # identical final expression on both engines at any magnitude
    isum = (
        "CAST(sum(CAST(floor(({x}) * 1e12) AS HUGEINT)) AS DOUBLE)"
        " / 1e12"
    )
    parts = [
        f"""WITH e AS MATERIALIZED (SELECT embedding FROM embeddings),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
flat AS MATERIALIZED (
  SELECT u['j'] AS j, u['x'] AS xj, embedding AS vv
  FROM (SELECT embedding,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> {{'j': i - 1, 'x': embedding[i]}})) AS u
        FROM e)
),
pair AS (
  SELECT j, xj, w['k'] AS k, w['x'] AS xk
  FROM (SELECT j, xj,
               unnest(list_transform(range(1, len(vv) + 1),
                      i -> {{'k': i - 1, 'x': vv[i]}})) AS w
        FROM flat)
),
mu AS MATERIALIZED (
  SELECT j, {isum.format(x='xj')} / (SELECT n FROM nn) AS mu
  FROM flat GROUP BY j
),
sxx AS (
  SELECT j, k, {isum.format(x='xj * xk')} / (SELECT n FROM nn) AS sxx
  FROM pair GROUP BY j, k
),
cov AS MATERIALIZED (
  SELECT s.j, s.k, s.sxx - a.mu * b.mu AS c
  FROM sxx s JOIN mu a ON s.j = a.j JOIN mu b ON s.k = b.j
),
v0 AS MATERIALIZED (
  SELECT DISTINCT j AS k, 1.0 / sqrt(CAST({d} AS DOUBLE)) AS v FROM cov
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
w{t} AS MATERIALIZED (
  SELECT cov.j, {dsum.format(x='cov.c * p.v')} AS w
  FROM cov JOIN v{t - 1} p ON cov.k = p.k GROUP BY cov.j
),
n{t} AS (SELECT sqrt({dsum.format(x='w * w')}) AS nv FROM w{t}),
v{t} AS MATERIALIZED (
  SELECT j AS k, {t12.format(x=f'w / (SELECT nv FROM n{t})')} AS v
  FROM w{t}
)"""
        )
    parts.append(
        f""",
wf AS (
  SELECT cov.j, {dsum.format(x='cov.c * p.v')} AS w
  FROM cov JOIN v{iters} p ON cov.k = p.k GROUP BY cov.j
),
lam AS (
  SELECT {dsum.format(x='wf.w * p.v')} AS l
  FROM wf JOIN v{iters} p ON wf.j = p.k
),
tr AS (SELECT {dsum.format(x='c')} AS t FROM cov WHERE j = k)
SELECT k AS pos, round(v, 6) AS loading,
       round((SELECT l FROM lam), 6) AS eigenvalue,
       round((SELECT l FROM lam) / (SELECT t FROM tr), 6)
         AS explained_frac
FROM v{iters}"""
    )
    return "".join(parts)


TOP_PC_Q = top_pc_sql()


# Twin of operators.dedup.dup_profile: substr_dedup extents summed per
# doc (disjoint by construction), left-joined onto the per-doc token
# counts; 6dp fraction, NULL only on zero-token docs.
DUP_PROFILE_Q = f"""WITH spans AS (
  SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
  FROM ({substr_dedup_sql()}) GROUP BY doc_id
), toks AS (
  SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens FROM documents
)
SELECT t.doc_id, t.n_tokens,
       CAST(coalesce(s.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(CAST(coalesce(s.dup_tokens, 0) AS DOUBLE)
             / CAST(nullif(t.n_tokens, 0) AS DOUBLE), 6) AS dup_frac
FROM toks t LEFT JOIN spans s ON t.doc_id = s.doc_id"""


# Twin of operators.corpus.kneser_ney_xent: same model tables from the
# one shingle groupBy, the KN_P conditional interpolated verbatim (the
# distinct-bigram total appears as a cross-joined scalar here and as
# the one-scalar literal on the Spark side), 12dp/DECIMAL/6dp ladder.
def kneser_ney_sql() -> str:
    from .operators.corpus import KN_P

    return f"""WITH tk AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), bg AS (
  SELECT doc_id, unnest({_word_shingles('toks', 2)}) AS bg FROM tk
), model AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS c2,
         split_part(bg, ' ', 1) AS w1,
         split_part(bg, ' ', -1) AS w2
  FROM bg GROUP BY bg
), lft AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1p
  FROM model GROUP BY w1
), rgt AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS nend FROM model GROUP BY w2
), nt AS (
  SELECT CAST(count(*) AS BIGINT) AS ntot FROM model
), logp AS (
  SELECT m.bg,
         CAST(round(-ln({KN_P.format(ntot='nt.ntot')}), 12)
              AS DECIMAL(26,12)) AS neg_logp
  FROM model m
  JOIN lft ON m.w1 = lft.w1
  JOIN rgt ON m.w2 = rgt.w2
  CROSS JOIN nt
), per_doc AS (
  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         sum(l.neg_logp) AS s
  FROM bg b JOIN logp l USING (bg) GROUP BY b.doc_id
)
SELECT t.doc_id,
       CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CASE WHEN pd.n_bigrams > 0
            THEN round(CAST(pd.s AS DOUBLE) / pd.n_bigrams, 6)
       END AS kn_xent
FROM tk t LEFT JOIN per_doc pd USING (doc_id)"""


KNESER_NEY_Q = kneser_ney_sql()


# Twin of queries.lift_deciles: same 6-dp engagement score, the same
# (score desc, bank_id) ntile(10) total order, LIFT_RATE strings
# interpolated over exact band counts.
def lift_table_sql() -> str:
    from .operators.profiling import LIFT_RATE

    rate = LIFT_RATE.format(p="n_pos", n="n")
    crate = LIFT_RATE.format(p="cum_pos", n="cum_n")
    base = LIFT_RATE.format(p="tot_pos", n="tot_n")
    return f"""{BANK_PREFIX},
banded AS (
  SELECT CASE WHEN y = 'yes' THEN 1 ELSE 0 END AS pos,
         ntile(10) OVER (ORDER BY round({ENGAGEMENT}, 6) DESC,
                         bank_id ASC) AS band
  FROM valid
), per AS (
  SELECT band, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos
  FROM banded GROUP BY band
), cum AS (
  SELECT band, n, n_pos,
         CAST(sum(n) OVER (ORDER BY band
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_n,
         CAST(sum(n_pos) OVER (ORDER BY band
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_pos,
         CAST(sum(n) OVER (ROWS BETWEEN UNBOUNDED PRECEDING
              AND UNBOUNDED FOLLOWING) AS BIGINT) AS tot_n,
         CAST(sum(n_pos) OVER (ROWS BETWEEN UNBOUNDED PRECEDING
              AND UNBOUNDED FOLLOWING) AS BIGINT) AS tot_pos
  FROM per
)
SELECT band, n, n_pos,
       round({rate}, 6) AS resp_rate,
       round(({rate}) / nullif({base}, 0.0), 6) AS lift,
       cum_n, cum_pos,
       round({crate}, 6) AS cum_resp_rate,
       round(({crate}) / nullif({base}, 0.0), 6) AS cum_lift
FROM cum
ORDER BY band"""


LIFT_TABLE_Q = lift_table_sql()


# Twin of queries.score_auc: same 6-dp engagement score, the same
# distinct-score rank walk with the integer doubled-rank sum (r2x =
# 2*cum_prev + cnt + 1), AUC_EXPR interpolated verbatim.
def score_auc_sql() -> str:
    from .operators.profiling import AUC_EXPR

    return f"""{BANK_PREFIX},
scored AS (
  SELECT round({ENGAGEMENT}, 6) AS s,
         CASE WHEN y = 'yes' THEN 1 ELSE 0 END AS pos
  FROM valid
), g AS (
  SELECT s, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(pos) AS BIGINT) AS npos
  FROM scored GROUP BY s
), ranked AS (
  SELECT cnt, npos,
         2 * coalesce(sum(cnt) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS r2x
  FROM g
), agg AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(npos) AS BIGINT) AS n_pos,
         CAST(sum(npos * r2x) AS BIGINT) AS r2
  FROM ranked
), aug AS (
  SELECT n, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg, r2 FROM agg
)
SELECT n, n_pos, n_neg,
       round({AUC_EXPR}, 6) AS auc,
       round(2 * ({AUC_EXPR}) - 1, 6) AS gini
FROM aug"""


SCORE_AUC_Q = score_auc_sql()


# Twin of queries.calibration_bins: same 6-dp score, same clamped
# equal-width binning, CAL_MEAN/CAL_RATE strings interpolated over the
# DECIMAL-routed score sum.
def calibration_sql(n_bins: int = 10) -> str:
    from .operators.profiling import CAL_MEAN, CAL_RATE

    return f"""{BANK_PREFIX},
scored AS (
  SELECT round({ENGAGEMENT}, 6) AS s,
         CASE WHEN y = 'yes' THEN 1 ELSE 0 END AS pos
  FROM valid
), b AS (
  SELECT CAST(least(greatest(floor(s * {n_bins}), 0), {n_bins - 1}) AS INT)
           AS bin,
         CAST(s AS DECIMAL(28,12)) AS sdec, pos
  FROM scored
), per AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         sum(sdec) AS s_sum
  FROM b GROUP BY bin
), cum AS (
  SELECT bin, n, n_pos, s_sum,
         CAST(sum(n) OVER (ROWS BETWEEN UNBOUNDED PRECEDING
              AND UNBOUNDED FOLLOWING) AS BIGINT) AS tot_n
  FROM per
)
SELECT bin, n, n_pos,
       round({CAL_MEAN}, 6) AS mean_score,
       round({CAL_RATE}, 6) AS obs_rate,
       round(({CAL_RATE}) - ({CAL_MEAN}), 6) AS gap,
       round(CAST(n AS DOUBLE) / CAST(tot_n AS DOUBLE)
             * abs(({CAL_RATE}) - ({CAL_MEAN})), 6) AS ece_term
FROM cum"""


CALIBRATION_Q = calibration_sql()


# Twin of operators.graph.kcore (k=3, min_weight=2): the repeated-
# co-purchase edge build, then ``rounds`` UNROLLED peel iterations.
# The converged state is idempotent, so any unroll >= the actual
# peel depth reproduces the Spark fixpoint exactly (the
# kmeans/pagerank/CC unrolled-iteration precedent; sf0.01 converges
# in 10 rounds, sf0.001 in 1).
def kcore_sql(k: int = 3, min_weight: int = 2, rounds: int = 14) -> str:
    parts = [
        f"""WITH po AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), half AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM po a JOIN po b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {min_weight}
), e0 AS (
  SELECT src, dst FROM half
  UNION ALL
  SELECT dst AS src, src AS dst FROM half
)"""
    ]
    # MATERIALIZED is load-bearing: each round references the previous
    # edge set three times (degree filter + both endpoint joins), and
    # DuckDB inlines plain CTEs — an un-materialized unroll expands to
    # 3^rounds lineitem scans (observed as "too many open files")
    for t in range(1, rounds + 1):
        parts.append(
            f""",
k{t} AS MATERIALIZED (
  SELECT src FROM e{t - 1} GROUP BY src HAVING count(*) >= {k}
), e{t} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{t - 1} e
  JOIN k{t} x ON e.src = x.src
  JOIN k{t} y ON e.dst = y.src
)"""
        )
    parts.append(
        f"""
SELECT src AS part, CAST(count(*) AS BIGINT) AS degree
FROM e{rounds} GROUP BY src"""
    )
    return "".join(parts)


KCORE_Q = kcore_sql()


# Batch twin of streaming.events.topk_users_stream: the leaderboard
# over the bounded feed is the plain groupBy-count top-k with shares
# (batch-equivalence oracle — update-mode re-emissions reduce to the
# terminal MAX per user, which equals the batch count).
TOPK_USERS_Q = """WITH c AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
), t AS (
  SELECT CAST(sum(n_events) AS BIGINT) AS tot FROM c
), ranked AS (
  SELECT user_id, n_events,
         round(CAST(n_events AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
           AS share,
         row_number() OVER (ORDER BY n_events DESC, user_id ASC) AS rank
  FROM c CROSS JOIN t
)
SELECT user_id, n_events, share, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10"""


# Twin of operators.retrieval.ndcg_at_k: the bm25 twin as a derived
# table, the same derived-query-terms CTE for the term-coverage
# grades, NDCG_TERM interpolated verbatim over (rank | ideal rank),
# 12-dp terms summed as DECIMAL(26,12).
def mrr_sql(
    k: int = 10,
    rel_grade: int = 2,
    n_queries: int = 5,
    terms_per_query: int = 2,
    vocab_rank_start: int = 11,
) -> str:
    """Twin of operators.retrieval.mrr_at_k: the ndcg_sql CTE chain up
    to the graded hits, then min-rank of the first grade >= rel_grade
    hit per query, rr = 1/rank (0.0 on miss)."""
    n_terms = n_queries * terms_per_query
    return f"""WITH hits AS MATERIALIZED (
  SELECT * FROM ({bm25_topk_sql(k=k)})
), tk AS (
  SELECT doc_id, unnest({TOKS}) AS token FROM documents
), vranked AS (
  SELECT token,
         row_number() OVER (ORDER BY count(*) DESC, token ASC) AS vrank
  FROM tk GROUP BY token
), qt AS (
  SELECT CAST((vrank - {vocab_rank_start}) // {terms_per_query} AS INT)
           AS query_id,
         token
  FROM vranked
  WHERE vrank >= {vocab_rank_start}
    AND vrank < {vocab_rank_start} + {n_terms}
), grades AS (
  SELECT q.query_id, p.doc_id, CAST(count(*) AS INT) AS g
  FROM (SELECT DISTINCT doc_id, token FROM tk) p
  JOIN qt q ON p.token = q.token
  GROUP BY q.query_id, p.doc_id
), rel AS (
  SELECT h.query_id, CAST(min(h.rank) AS BIGINT) AS first_rel_rank
  FROM hits h
  JOIN grades g ON h.query_id = g.query_id AND h.doc_id = g.doc_id
  WHERE g.g >= {rel_grade}
  GROUP BY h.query_id
), qs AS (SELECT DISTINCT query_id FROM qt)
SELECT q.query_id, r.first_rel_rank,
       round(coalesce(1.0 / CAST(r.first_rel_rank AS DOUBLE), 0.0), 6)
         AS rr,
       (r.first_rel_rank IS NOT NULL) AS hit
FROM qs q LEFT JOIN rel r ON q.query_id = r.query_id"""


MRR_Q = mrr_sql()


# Twin of operators.sampling.curriculum_order (n_stages=4, length
# curriculum, md5 in-stage shuffle): same (n_tokens, id) ntile total
# order and (stage, hash, id) emit ranking.
CURRICULUM_Q = f"""WITH sized AS (
  SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens,
         md5('cur|' || CAST(doc_id AS VARCHAR)) AS _h
  FROM documents
), staged AS (
  SELECT doc_id, n_tokens,
         CAST(ntile(4) OVER (ORDER BY n_tokens ASC, doc_id ASC) AS INT)
           AS stage,
         _h
  FROM sized
)
SELECT doc_id, n_tokens, stage,
       CAST(row_number() OVER (ORDER BY stage ASC, _h ASC, doc_id ASC)
            AS BIGINT) AS emit_order
FROM staged"""


def ndcg_sql(
    k: int = 10,
    n_queries: int = 5,
    terms_per_query: int = 2,
    vocab_rank_start: int = 11,
) -> str:
    from .operators.retrieval import NDCG_TERM

    n_terms = n_queries * terms_per_query
    return f"""WITH hits AS MATERIALIZED (
  SELECT * FROM ({bm25_topk_sql(k=k)})
), tk AS (
  SELECT doc_id, unnest({TOKS}) AS token FROM documents
), vranked AS (
  SELECT token,
         row_number() OVER (ORDER BY count(*) DESC, token ASC) AS vrank
  FROM tk GROUP BY token
), qt AS (
  SELECT CAST((vrank - {vocab_rank_start}) // {terms_per_query} AS INT)
           AS query_id,
         token
  FROM vranked
  WHERE vrank >= {vocab_rank_start}
    AND vrank < {vocab_rank_start} + {n_terms}
), grades AS (
  SELECT q.query_id, p.doc_id, CAST(count(*) AS INT) AS g
  FROM (SELECT DISTINCT doc_id, token FROM tk) p
  JOIN qt q ON p.token = q.token
  GROUP BY q.query_id, p.doc_id
), scored AS (
  SELECT h.query_id, h.doc_id, h.rank, coalesce(g.g, 0) AS g
  FROM hits h
  LEFT JOIN grades g
    ON h.query_id = g.query_id AND h.doc_id = g.doc_id
), ideal AS (
  SELECT query_id, rank, g,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY g DESC, doc_id ASC) AS irank
  FROM scored
), terms AS (
  SELECT query_id,
         CAST(round({NDCG_TERM.format(r='rank')}, 12)
              AS DECIMAL(26,12)) AS dt,
         CAST(round({NDCG_TERM.format(r='irank')}, 12)
              AS DECIMAL(26,12)) AS it
  FROM ideal
), sums AS (
  SELECT query_id, sum(dt) AS ds, sum(it) AS is_ FROM terms
  GROUP BY query_id
)
SELECT query_id,
       round(CAST(ds AS DOUBLE), 6) AS dcg,
       round(CAST(is_ AS DOUBLE), 6) AS idcg,
       round(CAST(ds AS DOUBLE) / nullif(CAST(is_ AS DOUBLE), 0.0), 6)
         AS ndcg
FROM sums"""


# Twin of operators.retrieval.mmr_rerank: the bm25 pool + embeddings,
# then the greedy λ=0.5 MMR walk unrolled one CTE pair per pick —
# same max-normalized relevance, same 6-dp cosines, same
# (objective desc, doc_id asc) tie-break, MMR_EXPR interpolated
# verbatim. MATERIALIZED: each round references the previous
# remaining/selected sets repeatedly (the kcore_sql lesson).
def mmr_rerank_sql(n_select: int = 5, pool: int = 20) -> str:
    from .operators.retrieval import MMR_EXPR

    parts = [
        f"""WITH hits AS MATERIALIZED (
  SELECT * FROM ({bm25_topk_sql(k=pool)})
), ev AS (
  SELECT vec_id AS doc_id, embedding AS v FROM embeddings
), cand AS MATERIALIZED (
  SELECT h.query_id, h.doc_id,
         h.score / max(h.score) OVER (PARTITION BY h.query_id) AS rel,
         e.v, h.rank
  FROM hits h JOIN ev e ON h.doc_id = e.doc_id
), sel1 AS MATERIALIZED (
  SELECT query_id, doc_id, rel, v, 1 AS pick FROM cand WHERE rank = 1
), rem1 AS MATERIALIZED (
  SELECT query_id, doc_id, rel, v FROM cand WHERE rank > 1
)"""
    ]
    for t in range(2, n_select + 1):
        parts.append(
            f""",
m{t} AS MATERIALIZED (
  SELECT c.query_id, c.doc_id,
         max(round({_cosine('c.v', 's.v')}, 6)) AS msim
  FROM rem{t - 1} c JOIN sel{t - 1} s ON c.query_id = s.query_id
  GROUP BY c.query_id, c.doc_id
), p{t} AS MATERIALIZED (
  SELECT query_id, doc_id FROM (
    SELECT r.query_id, r.doc_id,
           row_number() OVER (PARTITION BY r.query_id
                              ORDER BY {MMR_EXPR} DESC,
                                       r.doc_id ASC) AS rn
    FROM rem{t - 1} r
    JOIN m{t} m ON r.query_id = m.query_id AND r.doc_id = m.doc_id
  ) WHERE rn = 1
), sel{t} AS MATERIALIZED (
  SELECT * FROM sel{t - 1}
  UNION ALL
  SELECT c.query_id, c.doc_id, c.rel, c.v, {t} AS pick
  FROM cand c JOIN p{t} p
    ON c.query_id = p.query_id AND c.doc_id = p.doc_id
), rem{t} AS MATERIALIZED (
  SELECT r.* FROM rem{t - 1} r
  ANTI JOIN p{t} p
    ON r.query_id = p.query_id AND r.doc_id = p.doc_id
)"""
        )
    parts.append(
        f"""
SELECT query_id, doc_id, round(rel, 6) AS rel, CAST(pick AS INT) AS pick
FROM sel{n_select}"""
    )
    return "".join(parts)


# Twin of operators.retrieval.hard_negatives: the bm25_topk twin as a
# derived table (pool+1 per query), top-1 = positive, same-source
# candidates filtered, remaining re-ranked (score desc, doc_id asc).
def hard_negatives_sql(k_neg: int = 5, pool: int = 20) -> str:
    return f"""WITH hits AS (
  SELECT * FROM ({bm25_topk_sql(k=pool + 1)})
), src AS (
  SELECT doc_id, source FROM documents
), pos AS (
  SELECT h.query_id, h.doc_id AS pos_doc_id, s.source AS pos_source
  FROM hits h JOIN src s ON h.doc_id = s.doc_id
  WHERE h.rank = 1
), cand AS (
  SELECT h.query_id, p.pos_doc_id, h.doc_id, h.score
  FROM hits h
  JOIN src s ON h.doc_id = s.doc_id
  JOIN pos p ON h.query_id = p.query_id
  WHERE h.rank > 1 AND s.source != p.pos_source
), ranked AS (
  SELECT query_id, pos_doc_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS neg_rank
  FROM cand
)
SELECT query_id, pos_doc_id, doc_id, score,
       CAST(neg_rank AS INT) AS neg_rank
FROM ranked WHERE neg_rank <= {k_neg}"""


# Twin of operators.profiling.column_entropy over customer
# (c_mktsegment, c_nationkey, c_acctbal): UNION ALL plays stack; the
# ENTROPY_SUM string is interpolated verbatim.
def column_entropy_sql() -> str:
    from .operators.profiling import ENTROPY_SUM

    u = "\n  UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS val FROM customer"
        for c in ["c_mktsegment", "c_nationkey", "c_acctbal"]
    )
    return f"""WITH u AS (
  {u}
), cells AS (
  SELECT col, val, CAST(count(*) AS BIGINT) AS c
  FROM u GROUP BY col, val
), tot AS (
  SELECT col, CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS distinct_n,
         CAST(max(c) AS BIGINT) AS top_c
  FROM cells GROUP BY col
), stats AS (
  SELECT cells.col, tot.n, tot.distinct_n, tot.top_c,
         {ENTROPY_SUM} AS h
  FROM cells JOIN tot ON cells.col = tot.col
  GROUP BY cells.col, tot.n, tot.distinct_n, tot.top_c
)
SELECT col AS "column", n, distinct_n,
       round(h, 6) AS entropy,
       round(h / nullif(log2(CAST(distinct_n AS DOUBLE)), 0.0), 6)
         AS norm_entropy,
       round(CAST(top_c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS top_share
FROM stats
ORDER BY "column\""""


COLUMN_ENTROPY_Q = column_entropy_sql()


# --- round 11b: trend / changepoint / survival / concentration / CF /
# corpus-growth twins

_DAILY_COUNTS = """
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
"""

MANN_KENDALL_Q = f"""WITH daily AS ({_DAILY_COUNTS}),
s AS (
  SELECT a.event_type,
         CAST(sum(CAST(sign(b.c - a.c) AS BIGINT)) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY 1
), nrow AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1
), ties AS (
  SELECT event_type,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT event_type, c, CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY 1, 2)
  GROUP BY 1
)
SELECT nrow.event_type, n_days, s_stat,
  round(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
             AS DOUBLE) / 18.0, 6) AS var_s,
  CASE WHEN n_days * (n_days - 1) * (2 * n_days + 5) - tie_term > 0 THEN
    round(CASE
      WHEN s_stat > 0 THEN (s_stat - 1)
        / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
                    AS DOUBLE) / 18.0)
      WHEN s_stat < 0 THEN (s_stat + 1)
        / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
                    AS DOUBLE) / 18.0)
      ELSE 0.0 END, 6)
  END AS z_stat
FROM nrow JOIN ties USING (event_type) JOIN s USING (event_type)"""

CUSUM_Q = f"""WITH daily AS ({_DAILY_COUNTS}),
staged AS (
  SELECT event_type, day,
    sum(c) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
         AS BIGINT) AS t,
    sum(c) OVER (PARTITION BY event_type) AS total,
    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
  FROM daily
), scaled AS (
  SELECT event_type, day, n_days, total,
         n_days * cum - t * total AS c_scaled
  FROM staged
), pick AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
            ORDER BY abs(c_scaled) DESC, day ASC) AS rk
  FROM scaled
)
SELECT event_type, n_days, CAST(total AS BIGINT) AS total,
       day AS change_day,
       CAST(abs(c_scaled) AS BIGINT) AS cusum_abs,
       round(CAST(abs(c_scaled) AS DOUBLE)
             / CAST(n_days * total AS DOUBLE), 6) AS cusum_norm
FROM pick WHERE rk = 1"""

SURVIVAL_KM_Q = """WITH signup AS (
  SELECT user_id, min(CAST(epoch_us(ts) AS BIGINT)) AS t0
  FROM events WHERE event_type = 'signup' GROUP BY 1
), study AS (
  SELECT max(CAST(epoch_us(ts) AS BIGINT)) AS t_end FROM events
), death AS (
  SELECT e.user_id, min(CAST(epoch_us(e.ts) AS BIGINT)) AS td
  FROM events e JOIN signup s USING (user_id)
  WHERE e.event_type = 'purchase'
    AND CAST(epoch_us(e.ts) AS BIGINT) > s.t0
  GROUP BY 1
), subjects AS (
  SELECT s.user_id,
    least(CAST(7 AS BIGINT), (t_end - t0) // 86400000000) AS cap,
    CASE WHEN td IS NOT NULL
         THEN (td - t0) // 86400000000 END AS dur_raw
  FROM signup s LEFT JOIN death d USING (user_id) CROSS JOIN study
), subj2 AS (
  SELECT user_id,
    CASE WHEN dur_raw IS NOT NULL AND dur_raw < cap
         THEN 1 ELSE 0 END AS observed,
    CASE WHEN dur_raw IS NOT NULL AND dur_raw < cap
         THEN dur_raw ELSE cap END AS dur
  FROM subjects
), at_dur AS (
  SELECT dur, CAST(sum(observed) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS leave_
  FROM subj2 GROUP BY 1
), nall AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all FROM subj2
), rows_ AS (
  SELECT dur, d,
    CAST(n_all - coalesce(sum(leave_) OVER (ORDER BY dur
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS n_risk
  FROM at_dur CROSS JOIN nall
), evt AS (
  SELECT dur, d, n_risk,
         1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
  FROM rows_ WHERE d > 0
)
SELECT e.dur AS t_day, e.n_risk, e.d AS d_events,
  round(list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
      (SELECT list(f.factor ORDER BY f.dur) FROM evt f
        WHERE f.dur <= e.dur)),
    (acc, x) -> acc * x), 6) AS survival
FROM evt e"""

GINI_Q = """WITH spend AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
  FROM orders GROUP BY 1
), seg AS (
  SELECT c_mktsegment, s.o_custkey, spend
  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
), ranked AS (
  SELECT c_mktsegment, o_custkey, spend,
    CAST(row_number() OVER (PARTITION BY c_mktsegment
         ORDER BY spend ASC, o_custkey ASC) AS BIGINT) AS rk,
    CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n_seg
  FROM seg
), agg AS (
  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
    sum(CAST(spend AS DECIMAL(38,6))) AS sx,
    sum(CAST(rk * spend AS DECIMAL(38,6))) AS six,
    sum(CAST(CASE WHEN rk * 10 > n_seg * 9 THEN spend ELSE 0 END
             AS DECIMAL(38,6))) AS s_top
  FROM ranked GROUP BY 1
)
SELECT c_mktsegment, n_customers,
  round(CAST(sx AS DOUBLE), 2) AS total_spend,
  round(2.0 * CAST(six AS DOUBLE)
        / (CAST(n_customers AS DOUBLE) * CAST(sx AS DOUBLE))
        - (CAST(n_customers AS DOUBLE) + 1.0)
          / CAST(n_customers AS DOUBLE), 6) AS gini,
  round(CAST(s_top AS DOUBLE) / CAST(sx AS DOUBLE), 6) AS top10_share
FROM agg"""

ITEMITEM_CF_Q = """WITH inc AS (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), kept AS (
  SELECT cust FROM inc GROUP BY cust HAVING count(*) <= 64
), pruned AS (
  SELECT inc.cust, inc.part FROM inc JOIN kept USING (cust)
), npart AS (
  SELECT part, CAST(count(*) AS BIGINT) AS n FROM pruned GROUP BY 1
), pairs AS (
  SELECT a.part AS part_a, b.part AS part_b,
         CAST(count(*) AS BIGINT) AS common
  FROM pruned a JOIN pruned b
    ON a.cust = b.cust AND a.part < b.part
  GROUP BY 1, 2
)
SELECT part_a, part_b, common, na.n AS n_a, nb.n AS n_b,
  round(CAST(common AS DOUBLE)
        / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)), 6)
    AS cosine
FROM pairs JOIN npart na ON pairs.part_a = na.part
           JOIN npart nb ON pairs.part_b = nb.part
ORDER BY cosine DESC, common DESC, part_a ASC, part_b ASC
LIMIT 20"""

GOOD_TURING_Q = f"""WITH counts AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS r
  FROM (SELECT unnest({{bigrams}}) AS bigram FROM documents)
  GROUP BY bigram
), ff AS (
  SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM counts GROUP BY r
), tot AS (
  SELECT CAST(sum(r) AS BIGINT) AS n_tokens FROM counts
)
SELECT f.r, f.n_r,
  CAST(coalesce(g.n_r, 0) AS BIGINT) AS n_r_next,
  round(CAST(f.r + 1 AS DOUBLE) * CAST(coalesce(g.n_r, 0) AS DOUBLE)
        / CAST(f.n_r AS DOUBLE), 6) AS r_star,
  round(CAST(f.r * f.n_r AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
    AS mass_share
FROM ff f LEFT JOIN ff g ON g.r = f.r + 1 CROSS JOIN tot
WHERE f.r <= 10
ORDER BY f.r"""

LEXDIV_Q = f"""WITH counts AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS n_i
  FROM (SELECT source, unnest({{toks}}) AS token FROM documents)
  GROUP BY 1, 2
), agg AS (
  SELECT source, CAST(sum(n_i) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         sum(CAST(n_i AS DECIMAL(19,0)) * n_i) AS s2
  FROM counts GROUP BY 1
)
SELECT source, n_tokens, n_types,
  round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
  round(CAST(n_types AS DOUBLE) / sqrt(CAST(n_tokens AS DOUBLE)), 6)
    AS root_ttr,
  round((CAST(s2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
        / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0)),
        6) AS simpson_rr,
  round(10000.0 * (CAST(s2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
        / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6)
    AS yule_k
FROM agg ORDER BY source"""

HEAPS_Q = f"""WITH toks AS (
  SELECT doc_id AS d, unnest({{toks}}) AS token FROM documents
), per_doc AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_tok FROM toks GROUP BY 1
), first_ AS (
  SELECT token, min(d) AS d FROM toks GROUP BY 1
), new_types AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_new FROM first_ GROUP BY 1
), spine AS (
  SELECT p.d,
    sum(n_tok) OVER (ORDER BY p.d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS cum_tokens,
    sum(coalesce(n_new, 0)) OVER (ORDER BY p.d ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS cum_types,
    row_number() OVER (ORDER BY p.d) AS rn,
    count(*) OVER () AS n_docs
  FROM per_doc p LEFT JOIN new_types USING (d)
), pts AS (
  SELECT CAST(cum_tokens AS BIGINT) AS cum_tokens,
         CAST(cum_types AS BIGINT) AS cum_types
  FROM spine
  WHERE rn % ((n_docs + 15) // 16) = 0 OR rn = n_docs
)
SELECT CAST(count(*) AS BIGINT) AS n_points,
  round(regr_slope(ln(CAST(cum_types AS DOUBLE)),
                   ln(CAST(cum_tokens AS DOUBLE))), 4) + 0.0 AS beta,
  round(regr_intercept(ln(CAST(cum_types AS DOUBLE)),
                   ln(CAST(cum_tokens AS DOUBLE))), 4) + 0.0 AS ln_k,
  round(regr_r2(ln(CAST(cum_types AS DOUBLE)),
                   ln(CAST(cum_tokens AS DOUBLE))), 4) + 0.0 AS r2
FROM pts"""

GOOD_TURING_Q = GOOD_TURING_Q.format(bigrams=_word_shingles(TOKS, 2))
LEXDIV_Q = LEXDIV_Q.format(toks=TOKS)
HEAPS_Q = HEAPS_Q.format(toks=TOKS)


# --- round 11c: autocorrelation / seasonality / tail-index /
# burstiness / all-pairs TF-IDF twins

# integer-micro rescale shared with timeseries.YI (see that constant
# for the decimal×decimal rationale); sums ride HUGEINT here, the
# DECIMAL(38,0) twin of Spark's integer moments
_HOURLY_YI = """
  SELECT event_type, date_trunc('hour', ts) AS h,
    CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6))
         * 1000000 AS BIGINT) AS yi
  FROM events GROUP BY 1, 2
"""


def _acf_arm(lag: int) -> str:
    m = f"""
  SELECT a.event_type,
    CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(a.yi) AS HUGEINT) AS sa,
    CAST(sum(b.yi) AS HUGEINT) AS sb,
    CAST(sum(CAST(a.yi AS HUGEINT) * b.yi) AS HUGEINT) AS sab,
    CAST(sum(CAST(a.yi AS HUGEINT) * a.yi) AS HUGEINT) AS saa,
    CAST(sum(CAST(b.yi AS HUGEINT) * b.yi) AS HUGEINT) AS sbb
  FROM hourly a JOIN hourly b
    ON a.event_type = b.event_type
   AND a.h = b.h + INTERVAL {lag} HOURS
  GROUP BY 1"""
    return f"""SELECT event_type, CAST({lag} AS INT) AS lag, n_pairs,
  CASE WHEN CAST(n_pairs AS HUGEINT) * saa - sa * sa > 0
        AND CAST(n_pairs AS HUGEINT) * sbb - sb * sb > 0 THEN
    round(CAST(CAST(n_pairs AS HUGEINT) * sab - sa * sb AS DOUBLE)
      / sqrt(CAST(CAST(n_pairs AS HUGEINT) * saa - sa * sa AS DOUBLE)
           * CAST(CAST(n_pairs AS HUGEINT) * sbb - sb * sb AS DOUBLE)),
      6)
  END AS acf
FROM ({m})"""


ACF_Q = f"""WITH hourly AS ({_HOURLY_YI})
{_acf_arm(1)}
UNION ALL
{_acf_arm(24)}"""

SEASONALITY_Q = f"""WITH hourly AS (
  SELECT event_type, yi,
    (CAST(epoch_us(h) AS BIGINT) // 3600000000) % 24 AS hod
  FROM ({_HOURLY_YI})
), by_hod AS (
  SELECT event_type, hod, CAST(sum(yi) AS HUGEINT) AS s_h,
         CAST(count(*) AS BIGINT) AS n_h
  FROM hourly GROUP BY 1, 2
), seas AS (
  SELECT event_type,
    sum(CAST(CAST(s_h AS DOUBLE) * CAST(s_h AS DOUBLE)
             / CAST(n_h AS DOUBLE) AS DECIMAL(38,6))) AS seas_sum
  FROM by_hod GROUP BY 1
), tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
    CAST(sum(yi) AS HUGEINT) AS s,
    CAST(sum(CAST(yi AS HUGEINT) * yi) AS HUGEINT) AS syy
  FROM hourly GROUP BY 1
)
SELECT t.event_type, n_hours,
  CASE WHEN CAST(n_hours AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) > 0 THEN
    round((CAST(n_hours AS DOUBLE) * CAST(seas_sum AS DOUBLE)
           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
          / (CAST(n_hours AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6)
  END AS strength
FROM tot t JOIN seas USING (event_type)"""

HILL_Q = """WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS x
  FROM orders GROUP BY 1
), seg AS (
  SELECT c_mktsegment, s.o_custkey, x
  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
), ranked AS (
  SELECT c_mktsegment, x,
    CAST(row_number() OVER (PARTITION BY c_mktsegment
         ORDER BY x DESC, o_custkey ASC) AS BIGINT) AS rk,
    CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n_seg
  FROM seg
), thresh AS (
  SELECT c_mktsegment, x AS x_k1 FROM ranked WHERE rk = 51
)
SELECT r.c_mktsegment, CAST(50 AS BIGINT) AS k,
  max(n_seg) AS n_customers,
  round(max(x_k1), 2) AS x_kplus1,
  round(50.0 / CAST(sum(CAST(ln(x / x_k1) AS DECIMAL(28,12)))
               AS DOUBLE), 6) AS hill_alpha
FROM ranked r JOIN thresh USING (c_mktsegment)
WHERE rk <= 50
GROUP BY 1"""

DF_BURSTINESS_Q = f"""WITH per_doc AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest({TOKS}) AS token FROM documents)
  GROUP BY 1, 2
), stats AS (
  SELECT token, CAST(sum(c) AS BIGINT) AS cf,
         CAST(count(*) AS BIGINT) AS df
  FROM per_doc GROUP BY 1
)
SELECT token, cf, df,
  round(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS burstiness
FROM stats WHERE df >= 5
ORDER BY burstiness DESC, token ASC LIMIT 50"""

TFIDF_ALLPAIRS_Q = f"""WITH terms AS (
  SELECT doc, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id AS doc, unnest({_word_shingles(TOKS, 2)}) AS term
        FROM documents)
  GROUP BY 1, 2
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
), dfq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM terms GROUP BY 1
), weighted AS (
  SELECT doc, term, df,
    CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
      AS w
  FROM terms JOIN dfq USING (term) CROSS JOIN nd
), norms AS (
  SELECT doc,
    sqrt(CAST(sum(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)) AS norm
  FROM weighted GROUP BY 1
), cand AS (
  SELECT DISTINCT ra.doc AS doc_a, rb.doc AS doc_b
  FROM weighted ra JOIN weighted rb
    ON ra.term = rb.term AND ra.doc < rb.doc
  WHERE ra.df <= 20 AND rb.df <= 20
), dots AS (
  SELECT c.doc_a, c.doc_b,
    CAST(count(*) AS BIGINT) AS common_terms,
    sum(CAST(ta.w * tb.w AS DECIMAL(28,12))) AS dot
  FROM cand c
  JOIN weighted ta ON ta.doc = c.doc_a
  JOIN weighted tb ON tb.doc = c.doc_b AND tb.term = ta.term
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common_terms,
  CASE WHEN na.norm * nb.norm > 0 THEN
    round(CAST(dot AS DOUBLE) / (na.norm * nb.norm), 6)
  END AS cosine
FROM dots JOIN norms na ON na.doc = dots.doc_a
          JOIN norms nb ON nb.doc = dots.doc_b
ORDER BY cosine DESC NULLS LAST, common_terms DESC, doc_a ASC,
         doc_b ASC
LIMIT 50"""


def tfidf_recall_sql(
    n_slice: int = 300, df_cap: int = 20, top: int = 50
) -> str:
    """Twin of operators.dedup.tfidf_recall: the TFIDF_ALLPAIRS_Q
    machinery run twice over the lowest-doc_id slice — blocked
    (df ≤ cap candidate generation) and exact (every shared term) —
    then set recall of the blocked top-k against the exact top-k."""

    def top_pairs(name: str, block: bool) -> str:
        where = (
            f"WHERE ra.df <= {df_cap} AND rb.df <= {df_cap}"
            if block
            else ""
        )
        return f"""cand_{name} AS (
  SELECT DISTINCT ra.doc AS doc_a, rb.doc AS doc_b
  FROM weighted ra JOIN weighted rb
    ON ra.term = rb.term AND ra.doc < rb.doc
  {where}
), dots_{name} AS (
  SELECT c.doc_a, c.doc_b,
    CAST(count(*) AS BIGINT) AS common_terms,
    sum(CAST(ta.w * tb.w AS DECIMAL(28,12))) AS dot
  FROM cand_{name} c
  JOIN weighted ta ON ta.doc = c.doc_a
  JOIN weighted tb ON tb.doc = c.doc_b AND tb.term = ta.term
  GROUP BY 1, 2
), top_{name} AS (
  SELECT doc_a, doc_b FROM (
    SELECT d.doc_a, d.doc_b, d.common_terms,
      CASE WHEN na.norm * nb.norm > 0 THEN
        round(CAST(d.dot AS DOUBLE) / (na.norm * nb.norm), 6)
      END AS cosine
    FROM dots_{name} d JOIN norms na ON na.doc = d.doc_a
                       JOIN norms nb ON nb.doc = d.doc_b
    ORDER BY cosine DESC NULLS LAST, common_terms DESC,
             d.doc_a ASC, d.doc_b ASC
    LIMIT {top}
  )
)"""

    return f"""WITH sl AS (
  SELECT * FROM documents ORDER BY doc_id ASC LIMIT {n_slice}
), terms AS (
  SELECT doc, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id AS doc, unnest({_word_shingles(TOKS, 2)}) AS term
        FROM sl)
  GROUP BY 1, 2
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM sl
), dfq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM terms GROUP BY 1
), weighted AS (
  SELECT doc, term, df,
    CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
      AS w
  FROM terms JOIN dfq USING (term) CROSS JOIN nd
), norms AS (
  SELECT doc,
    sqrt(CAST(sum(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)) AS norm
  FROM weighted GROUP BY 1
), {top_pairs("b", True)}, {top_pairs("e", False)}, hit AS (
  SELECT e.doc_a, e.doc_b
  FROM top_e e JOIN top_b b USING (doc_a, doc_b)
)
SELECT (SELECT n FROM nd) AS n_docs,
  (SELECT CAST(count(*) AS BIGINT) FROM top_e) AS n_exact,
  (SELECT CAST(count(*) AS BIGINT) FROM top_b) AS n_blocked,
  (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
  CASE WHEN (SELECT count(*) FROM top_e) > 0 THEN
    round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
          / CAST((SELECT count(*) FROM top_e) AS DOUBLE), 6)
  END AS recall"""


# --- round 11d: Theil-Sen / Brier decomposition / Krippendorff alpha

THEIL_SEN_Q = f"""WITH daily AS ({_DAILY_COUNTS}),
slopes AS (
  SELECT a.event_type, a.day AS di, b.day AS dj,
    CAST(b.c - a.c AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
), ranked AS (
  SELECT event_type, slope,
    CAST(row_number() OVER (PARTITION BY event_type
         ORDER BY slope ASC, di ASC, dj ASC) AS BIGINT) AS rn,
    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
  FROM slopes
), mid AS (
  SELECT event_type, n_pairs, slope FROM ranked
  WHERE rn = (n_pairs + 1) // 2 OR rn = n_pairs // 2 + 1
), nd AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1
), med AS (
  SELECT event_type, n_pairs,
    round(sum(slope) / CAST(count(*) AS DOUBLE), 6) AS sen_slope
  FROM mid GROUP BY 1, 2
)
SELECT nd.event_type, n_days, n_pairs, sen_slope
FROM nd JOIN med USING (event_type)"""


def brier_sql(n_bins: int = 10) -> str:
    from .operators.profiling import BRIER_REL_TERM, BRIER_RES_TERM

    return f"""{BANK_PREFIX},
scored AS (
  SELECT round({ENGAGEMENT}, 6) AS s,
         CASE WHEN y = 'yes' THEN 1 ELSE 0 END AS pos
  FROM valid
), b AS (
  SELECT CAST(least(greatest(floor(s * {n_bins}), 0), {n_bins - 1})
           AS INT) AS bin,
         CAST(s AS DECIMAL(28,12)) AS sdec, CAST(s AS DOUBLE) AS f,
         pos
  FROM scored
), per AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos, sum(sdec) AS s_sum
  FROM b GROUP BY bin
), raw AS (
  SELECT CAST(count(*) AS BIGINT) AS tot_n,
         CAST(sum(pos) AS BIGINT) AS tot_pos,
         sum(CAST((f - CAST(pos AS DOUBLE))
                  * (f - CAST(pos AS DOUBLE))
                  AS DECIMAL(28,12))) AS sq_sum
  FROM b
), terms AS (
  SELECT tot_n, tot_pos, sq_sum,
    sum(CAST({BRIER_REL_TERM} AS DECIMAL(28,12))) AS rel_sum,
    sum(CAST({BRIER_RES_TERM} AS DECIMAL(28,12))) AS res_sum
  FROM per CROSS JOIN raw GROUP BY 1, 2, 3
)
SELECT tot_n AS n, tot_pos AS n_pos,
  round(CAST(sq_sum AS DOUBLE) / CAST(tot_n AS DOUBLE), 6)
    AS brier_raw,
  round(CAST(rel_sum AS DOUBLE) / CAST(tot_n AS DOUBLE), 6)
    AS reliability,
  round(CAST(res_sum AS DOUBLE) / CAST(tot_n AS DOUBLE), 6)
    AS resolution,
  round(CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE)
        * (1.0 - CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE)), 6)
    AS uncertainty,
  round(CAST(rel_sum AS DOUBLE) / CAST(tot_n AS DOUBLE)
        - CAST(res_sum AS DOUBLE) / CAST(tot_n AS DOUBLE)
        + CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE)
          * (1.0 - CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE)),
        6) AS brier_binned
FROM terms"""


BRIER_Q = brier_sql()


def judge_alpha_sql() -> str:
    from .operators.corpus import KRIPP_UNIT_TERM

    return f"""WITH ja AS ({QUALITY_ENSEMBLE_Q}),
jb AS ({XENT_BUCKETS_Q}),
jc AS ({REPETITION_Q}),
ratings AS (
  SELECT doc_id AS unit, 'ensemble' AS rater,
         CAST(kept AS INT) AS value FROM ja
  UNION ALL
  SELECT doc_id AS unit, 'tercile' AS rater,
         CASE WHEN bucket <> 'tail' THEN 1 ELSE 0 END AS value FROM jb
  UNION ALL
  SELECT doc_id AS unit, 'repetition' AS rater,
         CAST(keep AS INT) AS value FROM jc
), by_uv AS (
  SELECT unit, value, CAST(count(*) AS BIGINT) AS n_uv
  FROM ratings GROUP BY 1, 2
), by_u AS (
  SELECT unit, CAST(sum(n_uv) AS BIGINT) AS m_u,
         CAST(sum(n_uv * n_uv) AS BIGINT) AS sq
  FROM by_uv GROUP BY 1 HAVING sum(n_uv) >= 2
), units AS (
  SELECT CAST(count(*) AS BIGINT) AS n_units,
         CAST(sum(m_u) AS BIGINT) AS n_tot,
         sum(CAST({KRIPP_UNIT_TERM} AS DECIMAL(28,12))) AS obs_sum
  FROM by_u
), margins AS (
  SELECT value, CAST(sum(n_uv) AS BIGINT) AS n_c
  FROM by_uv JOIN by_u USING (unit) GROUP BY 1
), marg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_values,
         CAST(sum(n_c * n_c) AS BIGINT) AS sq_c
  FROM margins
)
SELECT n_units, n_tot AS n_ratings, n_values,
  round(CAST(obs_sum AS DOUBLE) / CAST(n_tot AS DOUBLE), 6) AS d_o,
  round((CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)
         - CAST(sq_c AS DOUBLE))
        / (CAST(n_tot AS DOUBLE) * (CAST(n_tot AS DOUBLE) - 1.0)), 6)
    AS d_e,
  CASE WHEN sq_c < n_tot * n_tot THEN
    round(1.0 - (CAST(obs_sum AS DOUBLE) / CAST(n_tot AS DOUBLE))
          / ((CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)
              - CAST(sq_c AS DOUBLE))
             / (CAST(n_tot AS DOUBLE)
                * (CAST(n_tot AS DOUBLE) - 1.0))), 6)
  END AS alpha
FROM units CROSS JOIN marg"""


JUDGE_ALPHA_Q = judge_alpha_sql()


# --- round 11e: streaming histogram percentile / readability twins

STREAM_P95_Q = """WITH cells AS (
  SELECT event_type,
    CAST(least(greatest(floor(value / 25.0), 0), 19) AS INT) AS bucket,
    CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), staged AS (
  SELECT event_type, bucket,
    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum,
    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM cells
), t AS (
  SELECT *, (19 * n + 19) // 20 AS target FROM staged
), hit AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
            ORDER BY bucket) AS rk
  FROM t WHERE cum >= target
)
SELECT event_type, n, bucket AS p95_bucket,
  bucket * 25.0 AS bucket_lo, (bucket + 1) * 25.0 AS bucket_hi,
  cum AS cum_at_bucket
FROM hit WHERE rk = 1"""


def readability_sql() -> str:
    from .operators.corpus import FLESCH_EXPR

    return f"""WITH per_doc AS (
  SELECT source,
    CAST(len({TOKS}) AS BIGINT) AS w,
    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
         AS BIGINT) AS s,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
         AS BIGINT) AS sy
  FROM documents
), agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(w) AS BIGINT) AS words,
    CAST(sum(s) AS BIGINT) AS sents,
    CAST(sum(sy) AS BIGINT) AS sylls
  FROM per_doc GROUP BY 1
)
SELECT source, n_docs, words, sents, sylls,
  round({FLESCH_EXPR}, 6) AS flesch
FROM agg ORDER BY source"""


READABILITY_Q = readability_sql()


# --- round 11f: lead-lag CCF / negative sampling twins


def _ccf_arm(lag: int) -> str:
    m = f"""
  SELECT a.event_type AS type_a, b.event_type AS type_b,
    CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(a.yi) AS HUGEINT) AS sa,
    CAST(sum(b.yi) AS HUGEINT) AS sb,
    CAST(sum(CAST(a.yi AS HUGEINT) * b.yi) AS HUGEINT) AS sab,
    CAST(sum(CAST(a.yi AS HUGEINT) * a.yi) AS HUGEINT) AS saa,
    CAST(sum(CAST(b.yi AS HUGEINT) * b.yi) AS HUGEINT) AS sbb
  FROM hourly a JOIN hourly b
    ON a.event_type <> b.event_type
   AND a.h = b.h + INTERVAL {lag} HOURS
  GROUP BY 1, 2"""
    return f"""SELECT type_a, type_b, CAST({lag} AS INT) AS lag, n_pairs,
  CASE WHEN CAST(n_pairs AS HUGEINT) * saa - sa * sa > 0
        AND CAST(n_pairs AS HUGEINT) * sbb - sb * sb > 0 THEN
    round(CAST(CAST(n_pairs AS HUGEINT) * sab - sa * sb AS DOUBLE)
      / sqrt(CAST(CAST(n_pairs AS HUGEINT) * saa - sa * sa AS DOUBLE)
           * CAST(CAST(n_pairs AS HUGEINT) * sbb - sb * sb AS DOUBLE)),
      6)
  END AS ccf
FROM ({m})"""


LEADLAG_Q = f"""WITH hourly AS ({_HOURLY_YI})
{_ccf_arm(0)}
UNION ALL
{_ccf_arm(1)}
UNION ALL
{_ccf_arm(2)}"""

NEGSAMP_Q = f"""WITH toks AS (
  SELECT unnest({TOKS}) AS token FROM documents
), vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1
), cdf AS (
  SELECT token,
    CAST(floor(sqrt(CAST(c AS DOUBLE) * sqrt(CAST(c AS DOUBLE)))
               * 1e6) AS BIGINT) AS wq,
    CAST(sum(CAST(floor(sqrt(CAST(c AS DOUBLE)
                             * sqrt(CAST(c AS DOUBLE))) * 1e6)
                  AS BIGINT))
         OVER (ORDER BY token ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS cum
  FROM vocab
), tot AS (
  SELECT max(cum) AS t FROM cdf
), draws AS (
  SELECT doc_id, CAST(j AS INT) AS draw_idx,
    CAST(CAST('0x' || substring(
        md5(CAST(doc_id AS VARCHAR) || ':' || CAST(CAST(j AS INT)
            AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT)
      % (SELECT t FROM tot) AS target
  FROM documents, unnest(generate_series(0, 3)) AS u(j)
)
SELECT d.doc_id, d.draw_idx, cdf.token AS neg_token
FROM draws d JOIN cdf
  ON d.target >= cdf.cum - cdf.wq AND d.target < cdf.cum"""


# --- round 11g: position attribution / Pareto cut twins

POSITION_ATTR_Q = """WITH conv AS (
  SELECT user_id, min(CAST(epoch_us(ts) AS BIGINT)) AS t_conv
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), touches AS (
  SELECT e.user_id, e.event_type, e.event_id,
         CAST(epoch_us(e.ts) AS BIGINT) AS t
  FROM events e JOIN conv USING (user_id)
  WHERE e.event_type IN ('view', 'click')
    AND CAST(epoch_us(e.ts) AS BIGINT) < t_conv
), ranked AS (
  SELECT event_type,
    CAST(row_number() OVER (PARTITION BY user_id
         ORDER BY t ASC, event_id ASC) AS BIGINT) AS rk,
    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS k
  FROM touches
), credited AS (
  SELECT event_type,
    CAST(CASE WHEN k = 1 THEN 1.0
              WHEN k = 2 THEN 0.5
              WHEN rk = 1 THEN 0.4
              WHEN rk = k THEN 0.4
              ELSE 0.2 / (CAST(k AS DOUBLE) - 2.0)
         END AS DECIMAL(28,12)) AS c
  FROM ranked
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
       round(CAST(sum(c) AS DOUBLE), 6) AS total_credit
FROM credited GROUP BY 1 ORDER BY 1"""

PARETO_CUT_Q = """WITH spend AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
  FROM orders GROUP BY 1
), seg AS (
  SELECT c_mktsegment, s.o_custkey, spend
  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
), staged AS (
  SELECT c_mktsegment,
    CAST(row_number() OVER (PARTITION BY c_mktsegment
         ORDER BY spend DESC, o_custkey ASC) AS BIGINT) AS rk,
    CAST(sum(CAST(spend AS DECIMAL(38,6))) OVER (
         PARTITION BY c_mktsegment
         ORDER BY spend DESC, o_custkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS DECIMAL(38,6)) AS cum,
    CAST(sum(CAST(spend AS DECIMAL(38,6))) OVER (
         PARTITION BY c_mktsegment) AS DECIMAL(38,6)) AS total,
    CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n_seg
  FROM seg
), hit AS (
  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
            ORDER BY rk) AS pick
  FROM staged WHERE cum * 5 >= total * 4
)
SELECT c_mktsegment, n_seg AS n_customers, rk AS n_top80,
  round(CAST(rk AS DOUBLE) / CAST(n_seg AS DOUBLE), 6) AS cust_share,
  round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6)
    AS spend_share
FROM hit WHERE pick = 1 ORDER BY c_mktsegment"""


# Shared EDF spine for the two-sample tests: per distinct pooled
# value, counts and inclusive cumulative counts of each sample
# (twin of operators.profiling._two_sample_spine — the window cumsum
# here is the semantic spec; the Spark side computes it as the
# two-pass partitioned prefix sum).
_TWO_SAMPLE_SPINE = """
  SELECT v, c_a, c_b,
         CAST(sum(c_a) OVER (ORDER BY v) AS BIGINT) AS cum_a,
         CAST(sum(c_b) OVER (ORDER BY v) AS BIGINT) AS cum_b
  FROM (
    SELECT value AS v,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS c_a,
           CAST(count(*)
                - sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS c_b
    FROM events WHERE event_type IN ('purchase', 'click')
      AND value IS NOT NULL
    GROUP BY value
  )
"""

# Twin of operators.profiling.ks_two_sample: D = sup|F_a - F_b| at
# every pooled jump point, exact by cross-multiplication (d_num is an
# integer; the only float op is the single terminal division).
KS_DRIFT_Q = f"""WITH cum AS ({_TWO_SAMPLE_SPINE}),
t AS (
  SELECT max(cum_a) AS n_a, max(cum_b) AS n_b FROM cum
)
SELECT n_a, n_b,
       CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num,
       CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS DOUBLE)
         / CAST(n_a * n_b AS DOUBLE) AS ks_d
FROM cum, t GROUP BY n_a, n_b"""

# Twin of operators.profiling.mann_whitney: 2·U_a (exact integer via
# the ties-count-half doubling) + the rank-biserial effect size.
MANNWHITNEY_Q = f"""WITH cum AS ({_TWO_SAMPLE_SPINE}),
t AS (
  SELECT max(cum_a) AS n_a, max(cum_b) AS n_b FROM cum
), u AS (
  SELECT CAST(sum(c_a * (2 * (cum_b - c_b) + c_b)) AS BIGINT) AS u2x
  FROM cum
)
SELECT n_a, n_b, u2x,
       CAST(u2x AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)
         - CAST(1.0 AS DOUBLE) AS rank_biserial
FROM u, t"""

# Twin of operators.timeseries.kendall_tau over the purchase/click
# daily count series: exact concordant/discordant/tie pair counts,
# one terminal sqrt/division for tau-b.
KENDALL_TAU_Q = """WITH f AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_x
  FROM events WHERE event_type IN ('purchase', 'click')
), daily AS (
  SELECT day, CAST(sum(is_x) AS BIGINT) AS x,
         CAST(count(*) - sum(is_x) AS BIGINT) AS y
  FROM f GROUP BY day
), pairs AS (
  SELECT CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END AS conc,
         CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END AS disc,
         CASE WHEN b.x = a.x THEN 1 ELSE 0 END AS tx,
         CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS ty
  FROM daily a JOIN daily b ON a.day < b.day
), agg AS (
  SELECT CAST(sum(conc) AS BIGINT) AS concordant,
         CAST(sum(disc) AS BIGINT) AS discordant,
         CAST(sum(tx) AS BIGINT) AS ties_x,
         CAST(sum(ty) AS BIGINT) AS ties_y,
         CAST(count(*) AS BIGINT) AS n0
  FROM pairs
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily
)
SELECT n_days, concordant, discordant, ties_x, ties_y,
       CAST(concordant - discordant AS DOUBLE)
         / nullif(sqrt(CAST((n0 - ties_x) * (n0 - ties_y) AS DOUBLE)),
                  CAST(0.0 AS DOUBLE)) AS tau_b
FROM agg, n"""


_BFS_EDGE_BUILD = """WITH po AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), half AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM po a JOIN po b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {min_weight}
), e AS MATERIALIZED (
  SELECT src, dst FROM half
  UNION ALL
  SELECT dst AS src, src AS dst FROM half
)"""


def _bfs_cte_block(pfx: str, seed_sql: str, max_depth: int) -> str:
    """One seeded level-synchronous BFS as unrolled CTEs over the
    shared ``e`` edge CTE: ``{pfx}v{t}`` visited / ``{pfx}f{t}``
    frontier tables, seed from ``seed_sql`` (one row or zero rows).
    MATERIALIZED per level — the kcore_sql lesson: un-materialized
    unrolls re-expand the base scan per reference. A recursive CTE
    would enumerate WALKS (combinatorial on a dense graph); the
    per-level visited anti-join is the BFS."""
    parts = [
        f""",
{pfx}v0 AS MATERIALIZED (
  -- an ungrouped min()/argmax over zero rows still yields one (NULL)
  -- row, so the seed filters on its own NULL-ness, not on the input
  -- count, for an empty graph to yield zero rows like the Spark side
  SELECT part, 0 AS depth FROM ({seed_sql}) WHERE part IS NOT NULL
), {pfx}f0 AS (SELECT part FROM {pfx}v0)"""
    ]
    for t in range(1, max_depth + 1):
        parts.append(
            f""",
{pfx}f{t} AS MATERIALIZED (
  SELECT DISTINCT e.dst AS part
  FROM e JOIN {pfx}f{t - 1} f ON e.src = f.part
  WHERE NOT EXISTS (SELECT 1 FROM {pfx}v{t - 1} v WHERE v.part = e.dst)
), {pfx}v{t} AS MATERIALIZED (
  SELECT part, depth FROM {pfx}v{t - 1}
  UNION ALL
  SELECT part, {t} AS depth FROM {pfx}f{t}
)"""
        )
    return "".join(parts)


def bfs_depths_sql(max_depth: int = 8, min_weight: int = 2) -> str:
    """Twin of operators.graph.bfs_depths: the kcore repeated-
    co-purchase edge build + one ``_bfs_cte_block`` seeded at the
    minimum node."""
    return (
        _BFS_EDGE_BUILD.format(min_weight=min_weight)
        + _bfs_cte_block(
            "", "SELECT CAST(min(src) AS BIGINT) AS part FROM e", max_depth
        )
        + f"""
SELECT part, CAST(depth AS INT) AS depth FROM v{max_depth}"""
    )


def graph_diameter_sql(max_depth: int = 8, min_weight: int = 2) -> str:
    """Twin of operators.graph.graph_diameter: the double sweep —
    BFS from the min node, argmax (depth DESC, part ASC) picks the
    far node, BFS again from it; the second eccentricity is the
    diameter lower bound."""
    far_seed = f"""SELECT part FROM (
    SELECT part FROM v{max_depth} ORDER BY depth DESC, part ASC LIMIT 1
  )"""
    return (
        _BFS_EDGE_BUILD.format(min_weight=min_weight)
        + _bfs_cte_block(
            "", "SELECT CAST(min(src) AS BIGINT) AS part FROM e", max_depth
        )
        + _bfs_cte_block("s2", far_seed, max_depth)
        + f""",
far AS (
  SELECT part, depth FROM v{max_depth} ORDER BY depth DESC, part ASC
  LIMIT 1
)
SELECT (SELECT CAST(min(src) AS BIGINT) FROM e) AS seed,
       CAST(far.depth AS INT) AS ecc_seed,
       far.part AS far_node,
       CAST((SELECT max(depth) FROM s2v{max_depth}) AS INT)
         AS diameter_lb
FROM far"""
    )


GRAPH_DIAMETER_Q = graph_diameter_sql()


BFS_DEPTHS_Q = bfs_depths_sql()


def label_prop_sql(iters: int = 4, min_weight: int = 2) -> str:
    """Twin of operators.graph.label_prop: the kcore repeated-
    co-purchase edge build, then ``iters`` UNROLLED synchronous
    min-label rounds (MATERIALIZED per round — the bfs_depths_sql
    pattern); each round is the identical least(own, min-neighbor)
    update, so both engines walk bit-identical label states."""
    parts = [
        f"""WITH po AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), half AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM po a JOIN po b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {min_weight}
), e AS MATERIALIZED (
  SELECT src, dst FROM half
  UNION ALL
  SELECT dst AS src, src AS dst FROM half
), l0 AS MATERIALIZED (
  SELECT DISTINCT CAST(src AS BIGINT) AS part,
         CAST(src AS BIGINT) AS community
  FROM e
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
l{i} AS MATERIALIZED (
  SELECT l.part,
         CAST(least(l.community, coalesce(m.nbr, l.community)) AS BIGINT)
           AS community
  FROM l{i - 1} l LEFT JOIN (
    SELECT CAST(e.dst AS BIGINT) AS part, min(l2.community) AS nbr
    FROM e JOIN l{i - 1} l2 ON e.src = l2.part GROUP BY e.dst
  ) m USING (part)
)"""
        )
    parts.append(f"""
SELECT part, community FROM l{iters}""")
    return "".join(parts)


LABEL_PROP_Q = label_prop_sql()


# Twin of operators.experiments.perm_test: identical md5-seeded
# relabeling (exact integer threshold comparison), DECIMAL group sums,
# the same fixed double mean-diff expression on both sides.
PERM_TEST_Q = """WITH base AS (
  SELECT event_id, CAST(value AS DECIMAL(18,6)) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
), t AS (
  SELECT CAST(sum(is_a) AS BIGINT) AS n_a,
         CAST(count(*) - sum(is_a) AS BIGINT) AS n_b,
         sum(CASE WHEN is_a = 1 THEN v END) AS s_a,
         sum(CASE WHEN is_a = 0 THEN v END) AS s_b
  FROM base
), reps AS (
  SELECT r,
         CAST(sum(in_a) AS BIGINT) AS ra,
         CAST(count(*) - sum(in_a) AS BIGINT) AS rb,
         sum(CASE WHEN in_a = 1 THEN v END) AS sa,
         sum(CASE WHEN in_a = 0 THEN v END) AS sb
  FROM (
    SELECT b.v, g.r,
           CASE WHEN CAST('0x' || substring(
                    md5(concat_ws(':', 'perm', g.r, b.event_id)), 1, 8)
                  AS BIGINT) * (t.n_a + t.n_b)
                < t.n_a * 4294967296
                THEN 1 ELSE 0 END AS in_a
    FROM base b, t, (SELECT unnest(range(0, 32)) AS r) g
  ) GROUP BY r
), scored AS (
  SELECT CASE WHEN ra > 0 AND rb > 0
              THEN CAST(sa AS DOUBLE) / CAST(ra AS DOUBLE)
                   - CAST(sb AS DOUBLE) / CAST(rb AS DOUBLE)
         END AS diff
  FROM reps
), od AS (
  SELECT CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS v
  FROM t
)
SELECT t.n_a, t.n_b,
       round(od.v, 6) AS obs_diff,
       CAST(32 AS INT) AS b_replicas,
       CAST(count(diff) AS BIGINT) AS n_valid,
       CAST(coalesce(sum(CASE WHEN abs(diff) >= abs(od.v)
                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_ge,
       round(CAST(coalesce(sum(CASE WHEN abs(diff) >= abs(od.v)
                                     THEN 1 ELSE 0 END), 0) + 1 AS DOUBLE)
             / CAST(count(diff) + 1 AS DOUBLE), 6) AS p_value
FROM scored, t, od
GROUP BY t.n_a, t.n_b, od.v"""


# Twin of operators.expectations.emb_dim_psi: per-dimension PSI over
# even/odd halves — the reference half's min/max fix the bins (the
# Spark side pulls them as literals; same doubles either way), the
# identical clamp/smoothing/12-dp-DECIMAL-term arithmetic.
EMB_PSI_Q = """WITH ex AS (
  SELECT (e.vec_id % 2 = 0) AS is_ref,
         CAST(d.i - 1 AS INT) AS dim,
         CAST(e.embedding[d.i] AS DOUBLE) AS x
  FROM embeddings e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
), mm AS (
  SELECT dim, min(x) AS lo, (max(x) - min(x)) / 8.0 AS w
  FROM ex WHERE is_ref GROUP BY dim
), binned AS (
  SELECT ex.dim,
         CASE WHEN mm.w = 0 THEN 0
              ELSE CAST(least(greatest(floor((ex.x - mm.lo) / mm.w),
                                       0), 7) AS INT)
         END AS bin,
         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ref,
         CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
           AS n_cur
  FROM ex JOIN mm ON ex.dim = mm.dim
  GROUP BY 1, 2
), tots AS (
  SELECT dim, CAST(sum(n_ref) AS DOUBLE) AS t_ref,
         CAST(sum(n_cur) AS DOUBLE) AS t_cur
  FROM binned GROUP BY dim
)
SELECT b.dim,
       CAST(sum(b.n_ref) AS BIGINT) AS n_ref,
       CAST(sum(b.n_cur) AS BIGINT) AS n_cur,
       round(CAST(sum(CAST(round(
         ((b.n_cur + 0.5) / (t.t_cur + 4.0)
          - (b.n_ref + 0.5) / (t.t_ref + 4.0))
         * ln(((b.n_cur + 0.5) / (t.t_cur + 4.0))
              / ((b.n_ref + 0.5) / (t.t_ref + 4.0))), 12)
         AS DECIMAL(26,12))) AS DOUBLE), 6) AS psi
FROM binned b JOIN tots t USING (dim)
GROUP BY b.dim"""


def _unigram_dp_block(
    r: int, vprev: str, max_word: int, max_piece: int
) -> str:
    """One hard-EM segmentation pass as unrolled SQL (the
    ``bfs_depths_sql`` pattern): edges = (word, i→j, piece, cnt)
    against the ``vprev`` vocab CTE, then ``max_word`` frontier steps
    keeping per (word, pos, #pieces) the single dominant partial state
    via arg_min over the shared padded-string key (same dominance as
    ``operators.unigram.segment_key``), completes collected per step,
    final best key per word by plain min()."""
    pk = "lpad(CAST(1000000000000 - s AS VARCHAR), 13, '0') || seq"
    parts = [
        f""",
e{r} AS MATERIALIZED (
  SELECT p.word, p.wn, p.i, p.i + length(v.piece) AS j, v.piece, v.cnt
  FROM (
    SELECT word, wn, i,
           unnest(range(1, 1 + least({max_piece}, length(word) - i))) AS l
    FROM (
      SELECT word, wn, unnest(range(0, length(word))) AS i FROM wf
    )
  ) p JOIN {vprev} v ON v.piece = substr(p.word, CAST(p.i AS INT) + 1,
                                         CAST(p.l AS INT))
), f{r}_0 AS (
  SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS s,
         '' AS seq
  FROM wf
)"""
    ]
    for t in range(1, max_word + 1):
        parts.append(
            f""",
g{r}_{t} AS (
  SELECT f.word, e.j AS pos, f.s + e.cnt AS s,
         CASE WHEN f.seq = '' THEN e.piece
              ELSE f.seq || chr(31) || e.piece END AS seq
  FROM f{r}_{t - 1} f JOIN e{r} e ON f.word = e.word AND f.pos = e.i
), f{r}_{t} AS MATERIALIZED (
  SELECT word, pos, arg_min(s, {pk}) AS s, arg_min(seq, {pk}) AS seq
  FROM g{r}_{t} GROUP BY word, pos
), c{r}_{t} AS (
  SELECT word, lpad('{t}', 2, '0')
           || lpad(CAST(1000000000000 - s AS VARCHAR), 13, '0')
           || seq AS key
  FROM f{r}_{t} WHERE pos = length(word)
)"""
        )
    completes = " UNION ALL ".join(
        f"SELECT * FROM c{r}_{t}" for t in range(1, max_word + 1)
    )
    parts.append(
        f""",
best{r} AS MATERIALIZED (
  SELECT word, min(key) AS key FROM ({completes}) GROUP BY word
)"""
    )
    return "".join(parts)


def unigram_sql(
    rounds: int = 2,
    max_piece: int = 4,
    max_word: int = 12,
    tokenize: bool = False,
) -> str:
    """Twin of ``operators.unigram``: the same seed (all ≤max_piece
    substrings, frequency-weighted), the same hard-EM rounds (DP
    segmentation unrolled to ``max_word`` steps per round — the window
    cumsum-style spec the Spark side computes via the Arrow-batched
    per-word DP), the same ⌊3n/4⌋+all-chars prune, everything in exact
    integers through the shared padded-string state key.

    ``tokenize=False`` → the trainer output (rank, piece, cnt);
    ``tokenize=True`` → one more segmentation pass under the final
    vocab and the per-doc aggregate (doc_id, n_words, n_pieces,
    n_chars, chars_per_piece)."""
    parts = [
        f"""WITH wf AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS wn FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
    FROM documents
  ) WHERE word <> '' AND length(word) <= {max_word}
  GROUP BY word
), v0 AS MATERIALIZED (
  SELECT piece, CAST(sum(wn) AS BIGINT) AS cnt FROM (
    SELECT substr(word, CAST(i AS INT) + 1, CAST(l AS INT)) AS piece, wn
    FROM (
      SELECT word, wn, i,
             unnest(range(1, 1 + least({max_piece}, length(word) - i))) AS l
      FROM (
        SELECT word, wn, unnest(range(0, length(word))) AS i FROM wf
      )
    )
  ) GROUP BY piece
), chars AS (
  SELECT piece FROM v0 WHERE length(piece) = 1
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(_unigram_dp_block(r, f"v{r - 1}", max_word, max_piece))
        parts.append(
            f""",
use{r} AS MATERIALIZED (
  SELECT piece, CAST(sum(wn) AS BIGINT) AS cnt FROM (
    SELECT b.word,
           unnest(string_split(substr(b.key, 16), chr(31))) AS piece
    FROM best{r} b
  ) u JOIN wf USING (word) GROUP BY piece
), kept{r} AS (
  SELECT piece, cnt FROM (
    SELECT piece, cnt,
           row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk,
           (SELECT count(*) FROM use{r}) AS nv
    FROM use{r}
  ) WHERE rk <= (3 * nv) // 4
), v{r} AS MATERIALIZED (
  SELECT piece, cnt FROM kept{r}
  UNION ALL
  SELECT c.piece, CAST(coalesce(u.cnt, 0) AS BIGINT) AS cnt
  FROM chars c LEFT JOIN use{r} u USING (piece)
  WHERE c.piece NOT IN (SELECT piece FROM kept{r})
)"""
        )
    if not tokenize:
        parts.append(
            f"""
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC) AS INT)
         AS rank,
       piece, cnt
FROM v{rounds}"""
        )
        return "".join(parts)
    rf = rounds + 1
    parts.append(_unigram_dp_block(rf, f"v{rounds}", max_word, max_piece))
    parts.append(
        f""",
segf AS (
  SELECT word, CAST(substr(key, 1, 2) AS INT) AS t FROM best{rf}
), docw AS (
  SELECT doc_id, word FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
    FROM documents
  ) WHERE word <> '' AND length(word) <= {max_word}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(t) AS BIGINT) AS n_pieces,
       CAST(sum(length(word)) AS BIGINT) AS n_chars,
       round(CAST(sum(length(word)) AS DOUBLE) / CAST(sum(t) AS DOUBLE), 6)
         AS chars_per_piece
FROM docw JOIN segf USING (word)
GROUP BY doc_id"""
    )
    return "".join(parts)


UNIGRAM_MERGES_Q = unigram_sql(tokenize=False)
UNIGRAM_TOKENIZE_Q = unigram_sql(tokenize=True)


# x·ln(x) with 0·ln(0) = 0 — twin of corpus._xlnx, same fixed shape.
def _xlnx_sql(x: str) -> str:
    return (
        f"CASE WHEN {x} > 0 THEN CAST({x} AS DOUBLE) * ln(CAST({x} AS DOUBLE))"
        f" ELSE CAST(0.0 AS DOUBLE) END"
    )


def bigram_llr_sql(min_count: int = 5, top: int = 50) -> str:
    """Twin of operators.corpus.bigram_llr: Dunning G² over the 2×2
    bigram contingency with prefix/suffix margins — identical term
    order to the Spark expression so both engines round the same
    double."""
    s = _xlnx_sql
    llr = (
        f"round(CAST(2.0 AS DOUBLE) * ("
        f"{s('k11')} + {s('k12')} + {s('k21')} + {s('k22')}"
        f" - {s('pre_x')} - {s('r2')} - {s('suf_y')} - {s('c2')}"
        f" + {s('n_all')}), 6) + 0.0"
    )
    return f"""WITH d AS (
  SELECT {TOKS} AS toks FROM documents
), big_all AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_word_shingles('toks', 2)}) AS bigram FROM d)
  GROUP BY bigram
), split_all AS (
  SELECT bigram, cnt,
         split_part(bigram, ' ', 1) AS _x,
         split_part(bigram, ' ', 2) AS _y
  FROM big_all
), pre AS (
  SELECT _x, CAST(sum(cnt) AS BIGINT) AS pre_x FROM split_all GROUP BY _x
), suf AS (
  SELECT _y, CAST(sum(cnt) AS BIGINT) AS suf_y FROM split_all GROUP BY _y
), tot AS (
  SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT) AS n_all FROM d
), k AS (
  SELECT h.bigram, h.cnt, p.pre_x, sf.suf_y, tot.n_all,
         h.cnt AS k11,
         p.pre_x - h.cnt AS k12,
         sf.suf_y - h.cnt AS k21,
         tot.n_all - p.pre_x - sf.suf_y + h.cnt AS k22,
         tot.n_all - p.pre_x AS r2,
         tot.n_all - sf.suf_y AS c2
  FROM split_all h
  JOIN pre p ON h._x = p._x
  JOIN suf sf ON h._y = sf._y
  CROSS JOIN tot
  WHERE h.cnt >= {min_count}
)
SELECT bigram, cnt, pre_x, suf_y, {llr} AS llr
FROM k ORDER BY llr DESC, bigram ASC LIMIT {top}"""


BIGRAM_LLR_Q = bigram_llr_sql()


def holt_linear_sql(horizon: int = 7) -> str:
    """Twin of operators.timeseries.holt_linear: the same α = β = 1/2
    recursion as a LINEAR recursive CTE over the day-ranked series —
    one row advanced per step per event type, identical expressions
    and order to the Spark fold, so the doubles are bit-identical."""
    return f"""WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, c,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_days
  FROM daily
), walk AS (
  WITH RECURSIVE h(event_type, rn, n_days, l, b) AS (
    SELECT r2.event_type, 2, r2.n_days,
           r2.c,
           r2.c - r1.c
    FROM ranked r2 JOIN ranked r1
      ON r1.event_type = r2.event_type AND r1.rn = 1
    WHERE r2.rn = 2
    UNION ALL
    SELECT d.event_type, h.rn + 1, h.n_days,
           CAST(0.5 AS DOUBLE) * d.c + CAST(0.5 AS DOUBLE) * (h.l + h.b),
           CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * d.c
               + CAST(0.5 AS DOUBLE) * (h.l + h.b)) - h.l)
             + CAST(0.5 AS DOUBLE) * h.b
    FROM h JOIN ranked d
      ON d.event_type = h.event_type AND d.rn = h.rn + 1
  )
  SELECT * FROM h
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       round(l, 6) + 0.0 AS level,
       round(b, 6) + 0.0 AS trend,
       round(l + CAST({horizon}.0 AS DOUBLE) * b, 6) + 0.0 AS forecast
FROM walk WHERE rn = n_days"""


HOLT_Q = holt_linear_sql()


# Twin of operators.graph.assortativity (min_weight=2): the kcore
# repeated-co-purchase edge build, degree lookups, exact sufficient
# statistics, correlation assembled in doubles (products AFTER the
# cast — same order as Spark).
ASSORT_Q = """WITH po AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), half AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM po a JOIN po b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
), e AS (
  SELECT src, dst FROM half
  UNION ALL
  SELECT dst AS src, src AS dst FROM half
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
), lab AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM e
  JOIN deg dx ON e.src = dx.src
  JOIN deg dy ON e.dst = dy.src
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(dx) AS BIGINT) AS s_x,
         CAST(sum(dy) AS BIGINT) AS s_y,
         CAST(sum(dx * dy) AS BIGINT) AS s_xy,
         CAST(sum(dx * dx) AS BIGINT) AS s_xx,
         CAST(sum(dy * dy) AS BIGINT) AS s_yy
  FROM lab
)
SELECT m AS m_edges, s_x, s_xy,
       round((CAST(m AS DOUBLE) * CAST(s_xy AS DOUBLE)
              - CAST(s_x AS DOUBLE) * CAST(s_y AS DOUBLE))
             / sqrt((CAST(m AS DOUBLE) * CAST(s_xx AS DOUBLE)
                     - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))
                    * (CAST(m AS DOUBLE) * CAST(s_yy AS DOUBLE)
                       - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE))), 6)
         + 0.0 AS assortativity
FROM sums"""


# Twin of operators.experiments.strat_ate: exact per-stratum counts
# over the validated bank rows (treatment = has_loans, outcome =
# y = 'yes', strata = age_group × wealth_segment), two terminal rate
# divisions per row.
STRAT_ATE_Q = f"""{BANK_PREFIX},
cells AS (
  SELECT {AGE_GROUP} AS age_group, {WEALTH} AS wealth_segment,
         CAST(count(*) AS BIGINT) AS n_s,
         CAST(sum(CASE WHEN {HAS_LOANS} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_treated,
         CAST(sum(CASE WHEN {HAS_LOANS} AND y = 'yes' THEN 1 ELSE 0 END)
              AS BIGINT) AS y_t,
         CAST(sum(CASE WHEN NOT ({HAS_LOANS}) AND y = 'yes' THEN 1 ELSE 0 END)
              AS BIGINT) AS y_c
  FROM valid GROUP BY 1, 2
)
SELECT age_group, wealth_segment, n_s, n_treated,
       CAST(n_s - n_treated AS BIGINT) AS n_control,
       CAST(y_t AS DOUBLE) / CAST(n_treated AS DOUBLE) AS rate_treated,
       CAST(y_c AS DOUBLE) / CAST(n_s - n_treated AS DOUBLE) AS rate_control,
       CAST(y_t AS DOUBLE) / CAST(n_treated AS DOUBLE)
         - CAST(y_c AS DOUBLE) / CAST(n_s - n_treated AS DOUBLE) AS diff
FROM cells
WHERE n_treated > 0 AND n_s - n_treated > 0"""


# Twin of operators.experiments.ate_report: same 9-stratum cells,
# identical fixed-double per-stratum terms 12-dp-rounded and
# DECIMAL-summed, one terminal division per estimand.
ATE_REPORT_Q = f"""{BANK_PREFIX},
staged AS (
  SELECT {AGE_GROUP} AS age_group, {WEALTH} AS wealth_segment,
         CASE WHEN {HAS_LOANS} THEN 1 ELSE 0 END AS t,
         CASE WHEN y = 'yes' THEN 1 ELSE 0 END AS y1
  FROM valid
), naive AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS n_t,
         CAST(sum(t * y1) AS BIGINT) AS y_t,
         CAST(sum((1 - t) * y1) AS BIGINT) AS y_c
  FROM staged
), cells AS (
  SELECT age_group, wealth_segment,
         CAST(count(*) AS BIGINT) AS n_s,
         CAST(sum(t) AS BIGINT) AS n_t,
         CAST(sum(t * y1) AS BIGINT) AS y_t,
         CAST(sum((1 - t) * y1) AS BIGINT) AS y_c,
         CAST(count(*) - sum(t) AS BIGINT) AS n_c
  FROM staged GROUP BY 1, 2
), kept AS (
  SELECT *,
         CAST(y_t AS DOUBLE) / CAST(n_t AS DOUBLE)
           - CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS d
  FROM cells WHERE n_t > 0 AND n_c > 0
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata_used,
         CAST(sum(n_s) AS BIGINT) AS n_used,
         CAST(sum(n_t) AS BIGINT) AS nt_used,
         CAST(sum(n_c) AS BIGINT) AS nc_used,
         sum(CAST(round(d * CAST(n_s AS DOUBLE), 12)
                  AS DECIMAL(26,12))) AS ate_num,
         sum(CAST(round(d * CAST(n_t AS DOUBLE), 12)
                  AS DECIMAL(26,12))) AS att_num,
         sum(CAST(round(d * CAST(n_c AS DOUBLE), 12)
                  AS DECIMAL(26,12))) AS atc_num
  FROM kept
)
SELECT n.n, n.n_t AS n_treated,
       CAST(n.n - n.n_t AS BIGINT) AS n_control,
       a.n_strata_used,
       round(CAST(n.y_t AS DOUBLE) / CAST(n.n_t AS DOUBLE)
             - CAST(n.y_c AS DOUBLE) / CAST(n.n - n.n_t AS DOUBLE), 6)
         AS diff_naive,
       round(CAST(a.ate_num AS DOUBLE) / CAST(a.n_used AS DOUBLE), 6)
         AS ate,
       round(CAST(a.att_num AS DOUBLE) / CAST(a.nt_used AS DOUBLE), 6)
         AS att,
       round(CAST(a.atc_num AS DOUBLE) / CAST(a.nc_used AS DOUBLE), 6)
         AS atc
FROM naive n, agg a"""


# Twin of operators.corpus.langid_confusion: the langid_sql CTEs plus
# the labeled lang column, exact cell/margin counts, one division.
LANGID_CONFUSION_Q = f"""WITH tk AS (
  SELECT doc_id, lang AS label, {TOKS} AS toks FROM documents
), sc AS (
  SELECT doc_id, label, {_lang_sel_sql()} FROM tk
), p AS (
  SELECT label, {_lang_case_sql()} AS pred FROM sc
), cells AS (
  SELECT label, pred, CAST(count(*) AS BIGINT) AS n
  FROM p GROUP BY label, pred
), totals AS (
  SELECT label, CAST(sum(n) AS BIGINT) AS label_n FROM cells GROUP BY label
)
SELECT c.label, c.pred, c.n, t.label_n,
       CAST(c.n AS DOUBLE) / CAST(t.label_n AS DOUBLE) AS share
FROM cells c JOIN totals t ON c.label = t.label"""


def vocab_coverage_sql(ks: tuple = (10, 100, 1000)) -> str:
    """Twin of operators.corpus.vocab_coverage — same (count desc,
    token asc) total order, exact cumulative integers."""
    kvals = ", ".join(f"({int(k)})" for k in sorted(ks))
    return f"""WITH d AS (
  SELECT {TOKS} AS toks FROM documents
), vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS v
  FROM vocab
), head AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rn
  FROM vocab ORDER BY cnt DESC, tok ASC LIMIT {max(ks)}
), ranked AS (
  SELECT rn, CAST(sum(cnt) OVER (ORDER BY rn) AS BIGINT) AS covered
  FROM head
), kf AS (
  SELECT CAST(k AS BIGINT) AS k FROM (VALUES {kvals}) AS t(k)
)
SELECT kf.k, r.covered, tot.total,
       CAST(r.covered AS DOUBLE) / CAST(tot.total AS DOUBLE) AS share
FROM kf
CROSS JOIN tot
JOIN ranked r ON r.rn = least(kf.k, tot.v)"""


VOCAB_COVERAGE_Q = vocab_coverage_sql()


# Twin of operators.graph.clustering_coeff: the triangle enumeration
# (same orientation) left-joined onto the degree->=2 node set.
CLUSTERING_COEFF_Q = """WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), deg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), o AS (
  SELECT h.src, h.dst, ds.deg AS ds, dd.deg AS dd
  FROM (SELECT src, dst FROM edges WHERE src < dst) h
  JOIN deg ds ON h.src = ds.src JOIN deg dd ON h.dst = dd.src
), e AS (
  SELECT CASE WHEN ds < dd OR (ds = dd AND src < dst) THEN src ELSE dst END AS lo,
         CASE WHEN ds < dd OR (ds = dd AND src < dst) THEN dst ELSE src END AS hi
  FROM o
), tri AS (
  SELECT p.x, p.y, p.z
  FROM (SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
        FROM e e1 JOIN e e2 ON e1.hi = e2.lo) p
  WHERE EXISTS (SELECT 1 FROM e WHERE e.lo = p.x AND e.hi = p.z)
), ntri AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri
  FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node
)
SELECT d.src AS node,
       CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
       CAST(d.deg AS BIGINT) AS degree,
       round(CAST(coalesce(t.n_tri, 0) * 2 AS DOUBLE)
             / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) AS coeff
FROM deg d LEFT JOIN ntri t ON d.src = t.node
WHERE d.deg >= 2"""


# Twin of queries.partition_prune: the same one-week slice named by
# plain epoch arithmetic over the RAW events table — equality proves
# the day-partitioned staged copy is complete and pruning dropped
# nothing it shouldn't.
PARTITION_PRUNE_Q = """SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
         AS value_sum
FROM events
WHERE CAST(epoch_us(ts) AS BIGINT) // 86400000000 BETWEEN 19730 AND 19736
GROUP BY event_type"""


# Batch twin of streaming.events.langid_mix_stream: counts are
# monotone under update-mode re-emission, so the drained terminal MAX
# per label equals this plain batch mix exactly.
LANGID_MIX_Q = f"""WITH tk AS (
  SELECT {TOKS} AS toks FROM documents
), sc2 AS (
  SELECT {_lang_case_sql()} AS pred FROM (
    SELECT {_lang_sel_sql()} FROM tk
  )
), cells AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n FROM sc2 GROUP BY pred
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS t FROM cells
)
SELECT pred, n, CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS share
FROM cells, tot"""


def ppr_sql(iters: int = 3, seed_mod: int = 50) -> str:
    """Unrolled-CTE twin of operators.graph.ppr: pagerank_sql's edge
    build and trunc-12dp/DECIMAL ladder, with teleport mass CASEd onto
    the seed set (node % seed_mod == 0) — init 1/|S| on seeds, restart
    0.15/|S| on seeds, 0 elsewhere."""

    def t12(expr: str) -> str:
        return f"floor(({expr}) * 1e12) / 1e12"

    parts = [
        f"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
ns AS (SELECT CAST(count(*) AS DOUBLE) AS s FROM deg
       WHERE src % {seed_mod} = 0),
ed AS (SELECT e0.src, e0.dst, d.deg FROM edges e0 JOIN deg d ON e0.src = d.src),
r0 AS (SELECT src AS node,
              CASE WHEN src % {seed_mod} = 0
                   THEN {t12('CAST(1.0 AS DOUBLE) / ns.s')}
                   ELSE CAST(0.0 AS DOUBLE) END AS r
       FROM deg CROSS JOIN ns)"""
    ]
    for k in range(1, iters + 1):
        base = (
            f"CASE WHEN e.dst % {seed_mod} = 0"
            " THEN CAST(0.15 AS DOUBLE) / max(ns.s)"
            " ELSE CAST(0.0 AS DOUBLE) END"
        )
        newr = (
            base + " + CAST(0.85 AS DOUBLE)"
            " * CAST(sum(CAST(" + t12("p.r / e.deg") + " AS DECIMAL(32,12))) AS DOUBLE)"
        )
        parts.append(
            f""",
r{k} AS (
  SELECT e.dst AS node, {t12(newr)} AS r
  FROM ed e JOIN r{k - 1} p ON e.src = p.node CROSS JOIN ns
  GROUP BY e.dst
)"""
        )
    parts.append(f"\nSELECT node, r FROM r{iters}")
    return "".join(parts)


PPR_Q = ppr_sql()


def map_eval_sql(
    k: int = 10,
    rel_grade: int = 2,
    n_queries: int = 5,
    terms_per_query: int = 2,
    vocab_rank_start: int = 11,
) -> str:
    """Twin of operators.retrieval.map_at_k: the mrr_sql CTE chain up
    to the graded hits, P@i terms 12-dp-rounded and DECIMAL-summed,
    AP denominator min(corpus-relevant, k)."""
    n_terms = n_queries * terms_per_query
    return f"""WITH hits AS MATERIALIZED (
  SELECT * FROM ({bm25_topk_sql(k=k)})
), tk AS (
  SELECT doc_id, unnest({TOKS}) AS token FROM documents
), vranked AS (
  SELECT token,
         row_number() OVER (ORDER BY count(*) DESC, token ASC) AS vrank
  FROM tk GROUP BY token
), qt AS (
  SELECT CAST((vrank - {vocab_rank_start}) // {terms_per_query} AS INT)
           AS query_id,
         token
  FROM vranked
  WHERE vrank >= {vocab_rank_start}
    AND vrank < {vocab_rank_start} + {n_terms}
), grades AS (
  SELECT q.query_id, p.doc_id, CAST(count(*) AS INT) AS g
  FROM (SELECT DISTINCT doc_id, token FROM tk) p
  JOIN qt q ON p.token = q.token
  GROUP BY q.query_id, p.doc_id
), rel_hits AS (
  SELECT h.query_id, h.rank
  FROM hits h
  JOIN grades g ON h.query_id = g.query_id AND h.doc_id = g.doc_id
  WHERE g.g >= {rel_grade}
), terms AS (
  SELECT query_id,
         CAST(round(CAST(row_number() OVER
                (PARTITION BY query_id ORDER BY rank)
              AS DOUBLE) / CAST(rank AS DOUBLE), 12) AS DECIMAL(26,12))
           AS p_at_i
  FROM rel_hits
), ap_sum AS (
  SELECT query_id, sum(p_at_i) AS s FROM terms GROUP BY query_id
), n_rel AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
  FROM grades WHERE g >= {rel_grade} GROUP BY query_id
), qs AS (SELECT DISTINCT query_id FROM qt)
SELECT q.query_id,
       CAST(coalesce(r.n_rel, 0) AS BIGINT) AS n_rel,
       round(coalesce(CAST(a.s AS DOUBLE)
                      / CAST(least(r.n_rel, {k}) AS DOUBLE), 0.0), 6) AS ap
FROM qs q
LEFT JOIN n_rel r ON q.query_id = r.query_id
LEFT JOIN ap_sum a ON q.query_id = a.query_id"""


MAP_EVAL_Q = map_eval_sql()


# Twin of queries.cheapest_supplier: per-(part, supplier) DECIMAL-
# exact unit price, min per part by (ratio, suppkey) total order —
# the TPC-H Q2 pattern expressed as one window instead of a
# correlated subquery.
CHEAPEST_SUPPLIER_Q = """WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
           AS unit_price,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY l_partkey, l_suppkey
), ranked AS (
  SELECT l_partkey, l_suppkey, unit_price, n_lines,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY unit_price ASC, l_suppkey ASC) AS rn
  FROM ps
)
SELECT l_partkey, l_suppkey, unit_price, n_lines
FROM ranked WHERE rn = 1"""


# Twin of queries.event_trigrams: two leads over the user timeline,
# exact trigram counts, (n desc, t1, t2, t3) total order, top 25.
EVENT_TRIGRAMS_Q = """WITH t AS (
  SELECT event_type AS t1,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS t2,
         lead(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS t3
  FROM events
)
SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
FROM t WHERE t3 IS NOT NULL
GROUP BY t1, t2, t3
ORDER BY n DESC, t1 ASC, t2 ASC, t3 ASC
LIMIT 25"""

# Twin of queries.transition_entropy: exact transition counts, 12-dp
# entropy terms summed through DECIMAL(26,12), 6-dp rounded.
TRANSITION_ENTROPY_Q = """WITH t AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
), trans AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
  FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type
), tot AS (
  SELECT from_type, CAST(sum(c) AS BIGINT) AS n_out
  FROM trans GROUP BY from_type
), terms AS (
  SELECT tr.from_type, tt.n_out,
         CAST(round(-(CAST(tr.c AS DOUBLE) / CAST(tt.n_out AS DOUBLE))
                    * ln(CAST(tr.c AS DOUBLE) / CAST(tt.n_out AS DOUBLE)),
                    12) AS DECIMAL(26,12)) AS h
  FROM trans tr JOIN tot tt ON tr.from_type = tt.from_type
)
SELECT from_type, n_out,
       round(CAST(sum(h) AS DOUBLE), 6) + 0.0 AS entropy
FROM terms GROUP BY from_type, n_out"""

# Twin of operators.profiling.lorenz_deciles: DECIMAL-exact revenue
# sums end-to-end, doubles only at the two terminal emissions.
LORENZ_Q = """WITH pc AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
  FROM orders GROUP BY o_custkey
), tiled AS (
  SELECT CAST(ntile(10) OVER (ORDER BY rev ASC, o_custkey ASC) AS INT)
           AS decile,
         rev
  FROM pc
), pd AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_cust, sum(rev) AS drev
  FROM tiled GROUP BY decile
), tot AS (
  SELECT sum(drev) AS t FROM pd
)
SELECT decile, n_cust,
       round(CAST(drev AS DOUBLE), 4) AS decile_rev,
       round(CAST(sum(drev) OVER (ORDER BY decile) AS DOUBLE)
             / CAST(tot.t AS DOUBLE), 6) AS cum_share
FROM pd CROSS JOIN tot"""


# Twin of operators.profiling.cvm_two_sample: the pooled-jump EDF
# integral, exact via cross-multiplication in DECIMAL(38,0), then the
# same two-division association as the Spark expression.
CVM_DRIFT_Q = f"""WITH cum AS ({_TWO_SAMPLE_SPINE}),
t AS (
  SELECT max(cum_a) AS n_a, max(cum_b) AS n_b FROM cum
), s AS (
  SELECT n_a, n_b,
         CAST(sum(CAST(c_a + c_b AS DECIMAL(38,0))
                  * (CAST(cum_a * n_b - cum_b * n_a AS DECIMAL(38,0))
                     * CAST(cum_a * n_b - cum_b * n_a AS DECIMAL(38,0)))
                 ) AS DECIMAL(38,0)) AS t_num
  FROM cum, t GROUP BY n_a, n_b
)
SELECT n_a, n_b,
       CAST(t_num AS DOUBLE) AS t_num,
       CAST(t_num AS DOUBLE)
         / CAST((n_a + n_b) * (n_a + n_b) AS DOUBLE)
         / CAST(n_a * n_b AS DOUBLE) AS cvm_t
FROM s"""


def kmeans_purity_sql(k: int = 8, dim: int = 64, iters: int = 3) -> str:
    """Twin of operators.clustering.cluster_purity: the _kmeans_ctes
    walk + kmeans_sql's afinal assignment, then exact contingency
    counts and the identical 12-dp DECIMAL-summed entropy/MI terms."""

    def sqdist(e: str, c: str) -> str:
        return _kmeans_sqdist(e, c)

    last = f"c{iters}"
    return f"""{_kmeans_ctes(k, dim, iters)},
afinal AS (
  SELECT e.vec_id,
    (SELECT c.cid FROM {last} c
     ORDER BY {sqdist('e.embedding', 'c.cvec')} ASC, c.cid ASC
     LIMIT 1) AS cluster
  FROM emb e
),
cells AS (
  SELECT a.cluster, e2.label, CAST(count(*) AS BIGINT) AS n_cl
  FROM afinal a JOIN embeddings e2 ON a.vec_id = e2.vec_id
  GROUP BY a.cluster, e2.label
),
cl_tot AS (SELECT cluster, CAST(sum(n_cl) AS BIGINT) AS n_c
           FROM cells GROUP BY cluster),
lb_tot AS (SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_l
           FROM cells GROUP BY label),
tot AS (SELECT CAST(sum(n_cl) AS BIGINT) AS n_all FROM cells),
pur AS (
  SELECT CAST(sum(mx) AS BIGINT) AS purity_num FROM (
    SELECT cluster, max(n_cl) AS mx FROM cells GROUP BY cluster
  )
),
mi AS (
  SELECT sum(CAST(round((CAST(c.n_cl AS DOUBLE) / CAST(t.n_all AS DOUBLE))
        * ln(CAST(c.n_cl AS DOUBLE) * CAST(t.n_all AS DOUBLE)
             / (CAST(ct.n_c AS DOUBLE) * CAST(lt.n_l AS DOUBLE))), 12)
        AS DECIMAL(26,12))) AS mi
  FROM cells c
  JOIN cl_tot ct ON c.cluster = ct.cluster
  JOIN lb_tot lt ON c.label = lt.label
  CROSS JOIN tot t
),
hc AS (
  SELECT sum(CAST(round(-(CAST(n_c AS DOUBLE) / CAST(t.n_all AS DOUBLE))
        * ln(CAST(n_c AS DOUBLE) / CAST(t.n_all AS DOUBLE)), 12)
        AS DECIMAL(26,12))) AS hc
  FROM cl_tot CROSS JOIN tot t
),
hl AS (
  SELECT sum(CAST(round(-(CAST(n_l AS DOUBLE) / CAST(t.n_all AS DOUBLE))
        * ln(CAST(n_l AS DOUBLE) / CAST(t.n_all AS DOUBLE)), 12)
        AS DECIMAL(26,12))) AS hl
  FROM lb_tot CROSS JOIN tot t
),
cnts AS (
  SELECT CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
         CAST(count(DISTINCT label) AS BIGINT) AS n_labels
  FROM cells
)
SELECT t.n_all AS n, cnts.n_clusters, cnts.n_labels, pur.purity_num,
       round(CAST(pur.purity_num AS DOUBLE) / CAST(t.n_all AS DOUBLE), 6)
         AS purity,
       round(CAST(mi.mi AS DOUBLE)
             / sqrt(CAST(hc.hc AS DOUBLE) * CAST(hl.hl AS DOUBLE)), 6)
         + 0.0 AS nmi
FROM tot t, pur, mi, hc, hl, cnts"""


KMEANS_PURITY_Q = kmeans_purity_sql()


# Twin of queries.lateness_audit: per-user running event-time maximum
# (window), an event is LATE when it arrives below the max seen so
# far; exact counts + the worst regression in microseconds.
LATENESS_Q = """WITH w AS (
  SELECT user_id,
         CAST(epoch_us(ts) AS BIGINT) AS t,
         max(CAST(epoch_us(ts) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS max_before
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN max_before IS NOT NULL AND t < max_before
                THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(max(CASE WHEN max_before IS NOT NULL AND t < max_before
                THEN max_before - t END) AS BIGINT) AS worst_lag_us
FROM w GROUP BY user_id"""


# Twin of queries.overdispersion: daily-count mean/variance ratio per
# event type in exact integer sufficient statistics (n·Σx² − (Σx)²),
# one terminal double assembly.
OVERDISPERSION_Q = """WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM daily GROUP BY event_type
)
SELECT event_type, n_days, s1 AS n_events,
       round((CAST(n_days AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / (CAST(n_days AS DOUBLE) * CAST(n_days - 1 AS DOUBLE))
             / (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)), 6)
         AS dispersion
FROM s WHERE n_days > 1"""


def _ivfinc_ctes(
    n_centroids: int = 16, iters: int = 2, dim: int = 64
) -> str:
    """Shared WITH-prefix for the MAINTAINED-IVF twins
    (``ann_ivf_incremental``, ``ivf_cell_growth``): the Lloyd walk
    trains on the pre-existing corpus ONLY (vec_id % 5 != 0 — the
    incremental-screen convention), then the FULL corpus is assigned
    to those frozen centroids — exactly the state add_to_ivf_index
    leaves behind (base assigned at build + batch appended, same
    quantizer), rebuilt from scratch in SQL."""
    last = f"c{iters}"
    train = _kmeans_ctes(
        n_centroids,
        dim,
        iters,
        src_sql=(
            "SELECT vec_id, embedding FROM embeddings"
            " WHERE vec_id % 5 != 0"
        ),
    )
    return f"""{train},
assign AS (
  SELECT e.vec_id, e.embedding,
         (SELECT c.cid FROM {last} c
          ORDER BY round({_cosine('e.embedding', 'c.cvec')}, 6) DESC, c.cid ASC
          LIMIT 1) AS cell
  FROM embeddings e
)"""


def ann_ivf_incremental_sql(
    n_centroids: int = 16, nprobe: int = 2, iters: int = 2,
    dim: int = 64, k: int = 10,
) -> str:
    """Twin of queries.ann_ivf_incremental: identical to ann_ivf_sql
    except the quantizer trains on the base split only — a hash match
    proves the add-batch path equals a frozen-quantizer rebuild."""
    last = f"c{iters}"
    return f"""{_ivfinc_ctes(n_centroids, iters, dim)},
q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  ORDER BY vec_id LIMIT 5
), probes AS (
  SELECT query_id, qvec, cid AS cell FROM (
    SELECT q.query_id, q.qvec, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY round({_cosine('q.qvec', 'c.cvec')}, 6) DESC,
                                       c.cid ASC) AS pr
    FROM q CROSS JOIN {last} c
  ) WHERE pr <= {nprobe}
), scored AS (
  SELECT p.query_id, a.vec_id,
         round({_cosine('a.embedding', 'p.qvec')}, 6) AS cosine
  FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id != p.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}"""


def ivf_cell_growth_sql(
    n_centroids: int = 16, iters: int = 2, dim: int = 64
) -> str:
    """Twin of queries.ivf_cell_growth: per-cell base/added counts of
    the maintained index, exact integers + one 6dp share."""
    return f"""{_ivfinc_ctes(n_centroids, iters, dim)}
SELECT CAST(cell AS INT) AS cell,
       CAST(sum(CASE WHEN vec_id % 5 != 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_base,
       CAST(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_added,
       round(CAST(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS added_share
FROM assign GROUP BY cell"""


def chunk_dup_rollup_sql(
    size: int = 32,
    stride: int = 32,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> str:
    """Twin of ``dedup.chunk_dup_rollup``: the CHUNK_DOCS_Q windowing,
    the minhash_lsh_sql signature/banding arithmetic applied per
    chunk (uid 'doc:idx'), the UNSALTED band-bucket self-join (row-
    identical to the salted plan), cross-doc pairs at the threshold,
    and the per-doc roll-up. Chunks too short to shingle stay in the
    denominator but can never flag — same as the Spark side's
    shingles-dropped-after-chunking staging."""
    rows = num_hashes // bands
    n_passes = (num_hashes + 3) // 4
    passes = ", ".join(
        f"list_transform(shingles, s -> md5('mh{p}:' || s)) AS md{p}"
        for p in range(n_passes)
    )
    comps = ", ".join(
        f"list_min(list_transform(md{i // 4}, m -> substring(m, {1 + 8 * (i % 4)}, 8)))"
        for i in range(num_hashes)
    )
    band_exprs = []
    for b in range(bands):
        parts = ", ".join(f"sig[{b * rows + r + 1}]" for r in range(rows))
        band_exprs.append(f"md5(concat_ws('|', 'b{b}', {parts})) AS band{b}")
    band_list = ", ".join(f"band{b}" for b in range(bands))
    matches = (
        f"list_sum(list_transform(range(1, {num_hashes} + 1),"
        " i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))"
    )
    return f"""WITH t AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), t2 AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
), idx AS (
  SELECT doc_id, toks,
         unnest(range(0, GREATEST(
           CAST(ceil((n - {size}) / CAST({stride}.0 AS DOUBLE)) AS INT) + 1,
           1))) AS ci
  FROM t2
), chunks AS (
  SELECT doc_id,
         concat(CAST(doc_id AS VARCHAR), ':', CAST(ci AS VARCHAR)) AS cuid,
         list_slice(toks, ci * {stride} + 1, ci * {stride} + {size}) AS ctoks
  FROM idx
), sh AS (
  SELECT doc_id, cuid,
         list_distinct({_word_shingles("ctoks", 3)}) AS shingles
  FROM chunks
), md AS (
  SELECT doc_id, cuid, {passes} FROM sh WHERE len(shingles) > 0
), sigs AS (
  SELECT doc_id, cuid, [{comps}] AS sig FROM md
), banded AS (
  SELECT doc_id, cuid, sig, {", ".join(band_exprs)} FROM sigs
), keys AS (
  SELECT doc_id, cuid, sig, unnest([{band_list}]) AS band_key FROM banded
), cand AS (
  SELECT DISTINCT a.cuid AS id_a, b.cuid AS id_b,
         a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keys a JOIN keys b ON a.band_key = b.band_key AND a.cuid < b.cuid
), cross_dup AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sigs a ON a.cuid = c.id_a JOIN sigs b ON b.cuid = c.id_b
  WHERE c.doc_a != c.doc_b
    AND CAST({matches} AS DOUBLE) / CAST({num_hashes} AS DOUBLE)
        >= CAST({threshold} AS DOUBLE)
), dup_cuids AS (
  SELECT id_a AS cuid FROM cross_dup
  UNION
  SELECT id_b AS cuid FROM cross_dup
)
SELECT ch.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN d.cuid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       round(CAST(sum(CASE WHEN d.cuid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS dup_chunk_share
FROM chunks ch LEFT JOIN dup_cuids d ON d.cuid = ch.cuid
GROUP BY ch.doc_id"""


def ann_hnsw_sql(
    n_centroids: int = 16,
    l1_mod: int = 8,
    r1_neighbors: int = 4,
    beam1: int = 2,
    ef1: int = 8,
    hops1: int = 2,
    r_neighbors: int = 8,
    beam: int = 4,
    ef: int = 32,
    hops: int = 2,
    iters: int = 2,
    dim: int = 64,
    k: int = 10,
    train_src_sql: str | None = None,
) -> str:
    """Twin of ``similarity.hnsw_topk``: the ann_graph_sql machinery
    with a LAYER-1 descent prepended — sampled within-cell top-R1
    lists unioned with the complete cell-entry grid, a single global
    entry (min entry id), ``hops1`` unrolled greedy rounds, then the
    base-layer beam search seeded by the layer-1 winners.
    ``train_src_sql`` restricts the Lloyd walk only (the maintained-
    index twin trains on the base split; both layers, entries and
    the descent rebuild over the FULL corpus — the frozen-quantizer
    rebuild)."""
    last = f"c{iters}"
    parts = [
        f"""{_kmeans_ctes(n_centroids, dim, iters, src_sql=train_src_sql)},
assign AS (
  SELECT e.vec_id, e.embedding,
         (SELECT c.cid FROM {last} c
          ORDER BY round({_cosine('e.embedding', 'c.cvec')}, 6) DESC, c.cid ASC
          LIMIT 1) AS cell
  FROM embeddings e
), l1 AS (
  SELECT * FROM assign WHERE vec_id % {l1_mod} = 0
), adj1_cell AS (
  SELECT src, dst, dvec FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst, b.embedding AS dvec,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY round({_cosine('a.embedding', 'b.embedding')}, 6) DESC,
                                       b.vec_id ASC) AS rn
    FROM l1 a JOIN l1 b ON a.cell = b.cell AND a.vec_id != b.vec_id
  ) WHERE rn <= {r1_neighbors}
), entries AS (
  SELECT ae.cell, ae.vec_id, ae.embedding AS evec
  FROM assign ae
  JOIN (SELECT cell, min(vec_id) AS vec_id FROM assign GROUP BY cell) m
    ON ae.vec_id = m.vec_id
), adj1 AS (
  SELECT DISTINCT src, dst, dvec FROM (
    SELECT src, dst, dvec FROM adj1_cell
    UNION ALL
    SELECT e1.vec_id AS src, e2.vec_id AS dst, e2.evec AS dvec
    FROM entries e1 JOIN entries e2 ON e1.vec_id != e2.vec_id
  )
), adj0 AS (
  SELECT src, dst, dvec FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst, b.embedding AS dvec,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY round({_cosine('a.embedding', 'b.embedding')}, 6) DESC,
                                       b.vec_id ASC) AS rn
    FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id != b.vec_id
  ) WHERE rn <= {r_neighbors}
), gentry AS (
  SELECT vec_id, evec FROM entries ORDER BY vec_id ASC LIMIT 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  ORDER BY vec_id LIMIT 5
), cand0 AS (
  SELECT q.query_id, q.qvec, g.vec_id,
         round({_cosine('g.evec', 'q.qvec')}, 6) AS cosine
  FROM q CROSS JOIN gentry g
)"""
    ]
    prev = "cand0"
    t = 0
    for b_, e_, adj_, n_rounds in (
        (beam1, ef1, "adj1", hops1),
        (beam, ef, "adj0", hops),
    ):
        for _ in range(n_rounds):
            t += 1
            parts.append(
                f""", f{t} AS (
  SELECT query_id, qvec, vec_id FROM (
    SELECT query_id, qvec, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM {prev}
  ) WHERE rn <= {b_}
), n{t} AS (
  SELECT f.query_id, f.qvec, a.dst AS vec_id,
         round({_cosine('a.dvec', 'f.qvec')}, 6) AS cosine
  FROM f{t} f JOIN {adj_} a ON a.src = f.vec_id
  WHERE a.dst != f.query_id
), cand{t} AS (
  SELECT query_id, qvec, vec_id, cosine FROM (
    SELECT query_id, qvec, vec_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM (
      SELECT DISTINCT query_id, qvec, vec_id, cosine FROM (
        SELECT query_id, qvec, vec_id, cosine FROM {prev}
        UNION ALL
        SELECT query_id, qvec, vec_id, cosine FROM n{t}
      )
    )
  ) WHERE rn <= {e_}
)"""
            )
            prev = f"cand{t}"
    parts.append(
        f"""
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM {prev} WHERE vec_id != query_id
) WHERE rank <= {k}"""
    )
    return "".join(parts)


# Twin of operators.sampling.shard_plan (shard_tokens=512): global
# prefix sum over doc_id order (the Spark side distributes it via the
# range-partition + offsets construction; values are exact BIGINTs so
# the single-partition SQL window here reproduces it bit-for-bit),
# start-offset shard assignment, per-shard rollup.
SHARD_PLAN_Q = f"""WITH t AS (
  SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM t
)
SELECT CAST((cum - n_tokens) // 512 AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM c GROUP BY 1"""



# Twin of multimodal.jpeg.decode_jpeg over synthesize_jpeg: the
# content is constant per 8x8 block (value (d*37 + bx*11 + by*23) %
# 256 on a (2+d%3) x (2+d%2) grid), on which quantizer-1 baseline
# JPEG is exactly lossless — the twin recomputes the decode stats
# from the synthesis arithmetic with no byte access, so agreement
# proves the Huffman/prediction/stuffing/dequant/IDCT round trip
# reproduced every pixel.
MEDIA_JPEG_Q = """WITH g AS (
  SELECT doc_id AS media_id,
         2 + doc_id % 3 AS bw,
         2 + doc_id % 2 AS bh
  FROM documents
), k AS (
  SELECT media_id, bw, bh, unnest(range(0, bw * bh)) AS k FROM g
), v AS (
  SELECT media_id, bw, bh,
         (media_id * 37 + (k % bw) * 11 + (k // bw) * 23) % 256 AS val
  FROM k
)
SELECT media_id,
       CAST(8 * bw AS INT) AS width,
       CAST(8 * bh AS INT) AS height,
       CAST(64 * bw * bh AS BIGINT) AS n_px,
       CAST(64 * sum(val) AS BIGINT) AS sum_luma,
       CAST(min(val) AS INT) AS min_luma,
       CAST(max(val) AS INT) AS max_luma
FROM v GROUP BY media_id, bw, bh"""


# ------------------------------------------------ round 15 twins

ANN_GRAPH_INC_TRAIN_SRC = (
    "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 != 0"
)


def ann_graph_incremental_sql() -> str:
    """Twin of queries.ann_graph_incremental: identical to
    ann_graph_sql except the quantizer trains on the base split only
    (the incremental-screen convention) — adjacency, entries and the
    beam descent all rebuild over the FULL corpus from scratch, so a
    hash match proves the append-only insert + probe-side top-R
    merge equals a frozen-quantizer rebuild of the whole graph."""
    return ann_graph_sql(train_src_sql=ANN_GRAPH_INC_TRAIN_SRC)


def graph_index_growth_sql(
    n_centroids: int = 16,
    r_neighbors: int = 8,
    iters: int = 2,
    dim: int = 64,
    compacted: bool = False,
) -> str:
    """Twin of queries.graph_index_growth: rebuilds the maintained
    adjacency's STORED-ROW ledger from first principles — per base
    src the build-time top-R over base members plus the batch
    entrants (full-rebuild top-R rows whose dst is new: exactly the
    rows the enter-top-R screen appends, by the monotone argument in
    ``add_to_graph_index``), per new src its insert-time top-R; live
    rows are the full rebuild's top-R. Cell-level sums + the stale
    share. ``compacted=True`` twins the POST-COMPACTION readout:
    stored collapses to live (every superseded row reclaimed), stale
    share identically zero."""
    if compacted:
        stored_expr = "coalesce(f.c, 0)"
    else:
        stored_expr = (
            "CASE WHEN s.vec_id % 5 != 0"
            " THEN coalesce(b.c, 0) + coalesce(e.c, 0)"
            " ELSE coalesce(f.c, 0) END"
        )
    return f"""{_ivfinc_ctes(n_centroids, iters, dim)},
base_adj AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY round({_cosine('a.embedding', 'b.embedding')}, 6) DESC,
                                       b.vec_id ASC) AS rn
    FROM assign a JOIN assign b
      ON a.cell = b.cell AND a.vec_id != b.vec_id
    WHERE a.vec_id % 5 != 0 AND b.vec_id % 5 != 0
  ) WHERE rn <= {r_neighbors}
), full_adj AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY round({_cosine('a.embedding', 'b.embedding')}, 6) DESC,
                                       b.vec_id ASC) AS rn
    FROM assign a JOIN assign b
      ON a.cell = b.cell AND a.vec_id != b.vec_id
  ) WHERE rn <= {r_neighbors}
), bsc AS (
  SELECT src, count(*) AS c FROM base_adj GROUP BY src
), ent AS (
  SELECT src, count(*) AS c FROM full_adj WHERE dst % 5 = 0 GROUP BY src
), fsc AS (
  SELECT src, count(*) AS c FROM full_adj GROUP BY src
), src_stats AS (
  SELECT s.vec_id, s.cell,
         {stored_expr} AS n_stored,
         coalesce(f.c, 0) AS n_live
  FROM assign s
  LEFT JOIN bsc b ON b.src = s.vec_id
  LEFT JOIN ent e ON e.src = s.vec_id
  LEFT JOIN fsc f ON f.src = s.vec_id
)
SELECT CAST(cell AS INT) AS cell,
       CAST(sum(CASE WHEN vec_id % 5 != 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_base,
       CAST(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_added,
       CAST(sum(n_stored) AS BIGINT) AS n_stored,
       CAST(sum(n_live) AS BIGINT) AS n_live,
       CASE WHEN sum(n_stored) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE round(CAST(1.0 AS DOUBLE)
                       - CAST(sum(n_live) AS DOUBLE)
                         / CAST(sum(n_stored) AS DOUBLE), 6) END
         AS stale_share
FROM src_stats GROUP BY cell"""


def ann_ivf_delete_sql(
    del_mod: int = 7,
    n_centroids: int = 16,
    nprobe: int = 2,
    iters: int = 2,
    dim: int = 64,
    k: int = 10,
) -> str:
    """Twin of queries.ann_delete_mask: the maintained-IVF state
    (base-trained quantizer, full corpus assigned) REBUILT WITHOUT
    the deleted rows — identical to ann_ivf_incremental_sql except
    scored excludes ``vec_id % del_mod = 0``. A hash match proves the
    tombstone mask at probe time equals this rebuild exactly."""
    last = f"c{iters}"
    return f"""{_ivfinc_ctes(n_centroids, iters, dim)},
q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  ORDER BY vec_id LIMIT 5
), probes AS (
  SELECT query_id, qvec, cid AS cell FROM (
    SELECT q.query_id, q.qvec, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY round({_cosine('q.qvec', 'c.cvec')}, 6) DESC,
                                       c.cid ASC) AS pr
    FROM q CROSS JOIN {last} c
  ) WHERE pr <= {nprobe}
), scored AS (
  SELECT p.query_id, a.vec_id,
         round({_cosine('a.embedding', 'p.qvec')}, 6) AS cosine
  FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id != p.query_id AND a.vec_id % {del_mod} != 0
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}"""


def ivf_live_fraction_sql(
    del_mod: int = 7,
    threshold: float = 0.8,
    n_centroids: int = 16,
    iters: int = 2,
    dim: int = 64,
) -> str:
    """Twin of queries.ivf_live_fraction: per-cell tombstone density
    of the maintained+deleted index — exact integers, the unrounded
    double comparison for the compact flag (identical division in
    both engines), one 6-dp share."""
    live = (
        "CAST(count(*) - sum(CASE WHEN vec_id % "
        f"{del_mod} = 0 THEN 1 ELSE 0 END) AS DOUBLE)"
    )
    return f"""{_ivfinc_ctes(n_centroids, iters, dim)}
SELECT CAST(cell AS INT) AS cell,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN vec_id % {del_mod} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_deleted,
       round({live} / CAST(count(*) AS DOUBLE), 6) AS live_frac,
       {live} / CAST(count(*) AS DOUBLE) < CAST({threshold} AS DOUBLE)
         AS needs_compaction
FROM assign GROUP BY cell"""


# Twin of multimodal.jpeg.decode_color_jpeg_stats over
# synthesize_color_jpeg: luma constant per 8x8 block on the 2bw x 2bh
# luma-block grid, chroma constant per MCU on the bw x bh grid —
# content on which quantizer-1 baseline 4:2:0 JPEG is exactly
# lossless per channel, so the twin recomputes the decode stats from
# the synthesis arithmetic with no byte access; agreement proves the
# interleaved-MCU entropy decode, the three DC predictor chains, and
# both table slots round-tripped every pixel of all three planes.
MEDIA_JPEG_COLOR_Q = """WITH g AS (
  SELECT doc_id AS media_id,
         2 + doc_id % 3 AS bw,
         2 + doc_id % 2 AS bh
  FROM documents
), lk AS (
  SELECT media_id, bw, bh, unnest(range(0, 4 * bw * bh)) AS k FROM g
), lv AS (
  SELECT media_id, bw, bh,
         (media_id * 37 + (k % (2 * bw)) * 11 + (k // (2 * bw)) * 23)
           % 256 AS val
  FROM lk
), la AS (
  SELECT media_id, min(bw) AS bw, min(bh) AS bh,
         64 * sum(val) AS sum_y,
         min(val) AS mn, max(val) AS mx
  FROM lv GROUP BY media_id
), ck AS (
  SELECT media_id, bw, unnest(range(0, bw * bh)) AS k FROM g
), cv AS (
  SELECT media_id,
         (media_id * 41 + (k % bw) * 13 + (k // bw) * 29) % 256 AS cbv,
         (media_id * 43 + (k % bw) * 17 + (k // bw) * 31) % 256 AS crv
  FROM ck
), ca AS (
  SELECT media_id, 64 * sum(cbv) AS sum_cb, 64 * sum(crv) AS sum_cr
  FROM cv GROUP BY media_id
)
SELECT la.media_id,
       CAST(16 * bw AS INT) AS width,
       CAST(16 * bh AS INT) AS height,
       CAST(256 * bw * bh AS BIGINT) AS n_px,
       CAST(sum_y AS BIGINT) AS sum_y,
       CAST(sum_cb AS BIGINT) AS sum_cb,
       CAST(sum_cr AS BIGINT) AS sum_cr,
       CAST(mn AS INT) AS min_y,
       CAST(mx AS INT) AS max_y
FROM la JOIN ca ON la.media_id = ca.media_id"""


def pretrain_manifest_sql(
    shard_tokens: int = 512, max_dup_share: float = 0.5
) -> str:
    """Twin of queries.pretrain_manifest: the proven chunk-dedup and
    quality-ensemble twins verbatim as gate subqueries, the
    temperature-mix arithmetic over the CURATED corpus, the prefix-sum
    shard assignment (single-partition window here — the Spark side
    distributes it), and the shard rollup. The mix numerator sums
    n_tokens × weight in DECIMAL(18,6) space exactly as the Spark
    side does (order-independent exact addition; only the final
    division runs in doubles)."""
    return f"""WITH dupg AS (
  SELECT doc_id FROM ({chunk_dup_rollup_sql()})
  WHERE dup_chunk_share < CAST({max_dup_share} AS DOUBLE)
), qg AS (
  SELECT doc_id FROM ({QUALITY_ENSEMBLE_Q}) WHERE kept
), kept AS (
  SELECT d.doc_id, d.source, CAST(len({TOKS}) AS BIGINT) AS n_tokens
  FROM documents d
  JOIN dupg ON d.doc_id = dupg.doc_id
  JOIN qg ON d.doc_id = qg.doc_id
), s AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
  FROM kept GROUP BY source
), t AS (
  SELECT CAST(sum(src_tokens) AS DOUBLE) AS tt FROM s
), z AS (
  SELECT sum(power(CAST(src_tokens AS DOUBLE) / tt, 0.3)) AS z FROM s, t
), w AS (
  SELECT source,
         CAST(round(power(CAST(src_tokens AS DOUBLE) / tt, 0.3) / z, 6)
              AS DECIMAL(18,6)) AS wdec
  FROM s, t, z
), c AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM kept
), sh AS (
  SELECT c.doc_id, c.n_tokens,
         (c.cum - c.n_tokens) // {int(shard_tokens)} AS shard_id,
         w.wdec
  FROM c JOIN w ON c.source = w.source
)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc,
       round(CAST(sum(n_tokens * wdec) AS DOUBLE)
             / CAST(sum(n_tokens) AS DOUBLE), 6) AS mix_weight
FROM sh GROUP BY shard_id"""


def ann_churn_recall_sql(del_mod: int = 7) -> str:
    """Twin of queries.ann_churn_recall: recall@10 after CHURN — the
    maintained index (base-trained quantizer, batch appended) with
    tombstones masked at probe time, measured against brute force
    over the SURVIVORS. Both arms replay exactly: the IVF arm scans
    probed cells minus deleted; the graph arm traverses the full
    frozen-rebuild graph (tombstoned nodes stay traversable) and
    drops deleted ids only at the final ranking."""
    brute = f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  ORDER BY vec_id LIMIT 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         round({_cosine('e.embedding', 'q.qvec')}, 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id AND e.vec_id % {del_mod} != 0
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id FROM ranked WHERE rank <= 10"""
    arms = [
        ("ivf", ann_ivf_delete_sql(del_mod)),
        (
            "graph",
            ann_graph_sql(
                train_src_sql=ANN_GRAPH_INC_TRAIN_SRC,
                final_where=f"vec_id % {del_mod} != 0",
            ),
        ),
    ]
    ctes = ",\n".join(
        f"{name} AS (SELECT * FROM ({sql}))" for name, sql in arms
    )
    cols = ",\n".join(
        f"""  CAST(sum(CASE WHEN {name}.vec_id IS NOT NULL THEN 1 ELSE 0 END)
    AS BIGINT) AS hit_{name},
  round(sum(CASE WHEN {name}.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        / CAST(count(*) AS DOUBLE), 6) AS recall_{name}"""
        for name, _ in arms
    )
    joins = "\n".join(
        f"LEFT JOIN {name} ON b.query_id = {name}.query_id"
        f" AND b.vec_id = {name}.vec_id"
        for name, _ in arms
    )
    return f"""WITH brute AS (SELECT * FROM ({brute})),
{ctes}
SELECT b.query_id,
  CAST(count(*) AS BIGINT) AS n_true,
{cols}
FROM brute b
{joins}
GROUP BY b.query_id"""
