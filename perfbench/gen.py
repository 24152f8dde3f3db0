"""Seeded input generators for the benchmark.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical inputs, so two commits of an A/B see the same data.

- :func:`bank_csv` writes the reference ETL's semicolon CSV (header plus
  ``n`` lines) with a known share of malformed rows, and returns the
  ground truth the output check compares against.
- :func:`tables` writes the ten TPC-H-like parquet tables the operator
  library reads (``region`` … ``embeddings``), with the column names,
  physical types and value shapes of the library's fixture data.
"""

from __future__ import annotations

import os

import numpy as np

# ---------------------------------------------------------------- bank CSV

BANK_HEADER = (
    "age;job;marital;education;default;balance;housing;loan;contact;"
    "day;month;duration;campaign;pdays;previous;poutcome;y"
)
_JOBS = ["admin.", " Technician", "MANAGEMENT", "blue-collar", "services", "retired "]
_MARITAL = ["married", "Single", " divorced"]
_EDU = ["primary", "secondary", "Tertiary ", "unknown"]
_YESNO = ["yes", "no", "No "]
_CONTACT = ["cellular", "telephone", "unknown"]
_MONTHS = ["jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep", "oct", "nov", "dec"]
_POUT = ["success", "failure", "other", "unknown"]

BAD_COLUMNS_SHARE = 0.02
BAD_AGE_SHARE = 0.02
OUT_OF_RANGE_SHARE = 0.03


def bank_csv(path: str, n: int, seed: int) -> dict:
    """Write ``n`` data lines plus the header to ``path``.

    Returns ``{"lines": n, "good": g, "errors": {error_type: count}}``.
    Each line is exactly one of: wrong column count (16 or 18 fields,
    ``parsing_error``), a non-numeric ``age`` (``parsing_error``), an age
    outside [18, 100] (``data_validation``), or clean. No field is empty,
    so no line fails for any other reason.
    """
    rng = np.random.default_rng(seed)
    # exact counts per kind, so every seed gives the same amount of work
    counts = [round(n * s) for s in (BAD_COLUMNS_SHARE, BAD_AGE_SHARE, OUT_OF_RANGE_SHARE)]
    kind = rng.permutation(np.repeat([0, 1, 2, 3], [*counts, n - sum(counts)]))
    age = rng.integers(18, 101, n).astype(str).astype(object)
    oor = kind == 2
    age[oor] = rng.choice([5, 12, 17, 101, 150], int(oor.sum())).astype(str)
    age[kind == 1] = rng.choice(["abc", "n/a", "4x", "thirty"], int((kind == 1).sum()))

    def pick(vals):
        return np.asarray(vals, dtype=object)[rng.integers(0, len(vals), n)]

    cols = [
        age,
        pick(_JOBS),
        pick(_MARITAL),
        pick(_EDU),
        pick(_YESNO),
        np.round(rng.uniform(-8000, 102000, n), 1).astype(str),
        pick(_YESNO),
        pick(_YESNO),
        pick(_CONTACT),
        rng.integers(1, 32, n).astype(str),
        pick(_MONTHS),
        rng.integers(0, 1200, n).astype(str),
        rng.integers(1, 16, n).astype(str),
        rng.integers(-1, 400, n).astype(str),
        rng.integers(0, 13, n).astype(str),
        pick(_POUT),
        pick(["yes", "no"]),
    ]
    fields = np.stack([np.asarray(c, dtype=object) for c in cols], axis=1)
    short = rng.random(n) < 0.5
    with open(path, "w", encoding="utf-8") as f:
        f.write(BANK_HEADER + "\n")
        for i in range(n):
            row = list(fields[i])
            if kind[i] == 0:
                row = row[:16] if short[i] else row + ["extra"]
            f.write(";".join(row) + "\n")
    n_cols = int((kind == 0).sum())
    n_age = int((kind == 1).sum())
    n_oor = int(oor.sum())
    return {
        "lines": n,
        "good": n - n_cols - n_age - n_oor,
        "errors": {"parsing_error": n_cols + n_age, "data_validation": n_oor},
    }


# -------------------------------------------------------------- sf tables

_WORDS = (
    "the a data row column table key value join merge sort hash scan filter "
    "group agg window stream batch spark query order line part customer "
    "vector big small fast slow"
).split()
_LANGS = (["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15])
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
N_LABELS = 10


def _days(rng, start: str, end: str, n: int):
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document, as in the fixtures
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        elif i > 10 and rng.random() < 0.01:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), k)]))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(_LANGS[0], n, p=_LANGS[1])),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int):
    centers = rng.normal(0, 1, (N_LABELS, EMB_DIM))
    label = rng.integers(0, N_LABELS, n).astype(np.int32)
    v = centers[label] + rng.normal(0, 1.5, (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return np.arange(n, dtype=np.int64), v, label


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf0.001: 6,000
    lineitems; documents and embeddings have a 500-row floor)."""
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten parquet tables under ``out_dir``; return row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": list(rng.choice(_SEGMENTS, c)),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), i64),
            "p_name": [
                f"{_COLORS[a]} {_NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": list(rng.choice(_PTYPES, p)),
            "p_size": pa.array(rng.integers(1, 51, p), i32),
            "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), i64),
            "o_custkey": pa.array(rng.integers(0, c, o), i64),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], o)),
            "o_totalprice": _money(rng, 1000, 500000, o),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", o), ts),
            "o_orderpriority": list(rng.choice(_PRIORITIES, o)),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), i64),
            "l_partkey": pa.array(rng.integers(0, p, li), i64),
            "l_suppkey": pa.array(rng.integers(0, s, li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, li),
            "l_discount": np.round(rng.uniform(0, 0.1, li), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, li), 2),
            "l_returnflag": list(rng.choice(["A", "N", "R"], li)),
            "l_linestatus": list(rng.choice(["F", "O"], li)),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", li), ts),
        }
    )
    e = n["events"]
    gaps = rng.exponential(1.0, e)
    span_us = 30 * 86400 * 10**6
    offs = (np.cumsum(gaps) / gaps.sum() * (span_us - 10**6)).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), i64),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + offs, ts),
            "user_id": pa.array(rng.integers(0, max(1, e // 67), e), i64),
            "event_type": list(rng.choice(_EVENT_TYPES, e)),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    out["documents"] = pa.table(_documents(rng, n["documents"]))
    vec_id, vecs, label = _embeddings(rng, n["embeddings"])
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(vec_id, i64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, vecs.size + 1, EMB_DIM, dtype=np.int32)),
                pa.array(vecs.ravel()),
            ),
            "label": pa.array(label, i32),
        }
    )
    for name, t in out.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return {name: t.num_rows for name, t in out.items()}
