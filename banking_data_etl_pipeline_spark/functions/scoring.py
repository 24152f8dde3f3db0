"""Spark SQL expression text for every derived field of the bank
pipeline (reference ops 9-16, SURVEY.md §2).

Each function takes SQL text for its inputs (a column name or a
sub-expression) and returns SQL text, so calls nest:
``rfm_json(recency_score("pdays"), ...)``. No DataFrame coupling, no
UDFs, everything constant-foldable by Catalyst (the DuckDB-oracle twins
live in ``__spark_entry__.oracle_sql``). A caller that needs a Column
wraps the text once in ``F.expr``; the ETL stages put it straight into
``selectExpr``.

Why text and not Column calls: in PySpark 4.1 every ``F.*`` call and
Column operator costs ~10 py4j round trips (the ``_with_origin``
wrapper reads the active session and a conf and sets and clears the
call-site origin around each one). Built that way, the ETL plan takes
~530 such calls, ~6k round trips and ~0.7 s; as text the JVM parses
each stage once.

Text carries only constants, config and names: string literals go
through :func:`sql_str` (single quotes, backslash escapes, ``$``
escaped against ``${...}`` variable substitution — never double
quotes, whose meaning depends on
``spark.sql.ansi.doubleQuotedIdentifiers``) and names through
:func:`sql_name`. Doubles are written with a ``D`` suffix, because a
bare ``10.0`` is a DECIMAL in Spark SQL.

Reference quirks replicated deliberately (do NOT "fix"):
- RFM threshold maps end in an ``inf -> 1`` tail, so the *best*
  customers (balance > 50000, pdays > 180, previous > 10) score 1
  (reference ``batch_pipeline1.py:24-45,255-259``).
- ``contact_day_type`` applies ``day % 7 in (0, 6)`` to a day-of-*month*
  (``:191``) — not a real weekday computation.
"""

from __future__ import annotations

# Threshold maps, reference batch_pipeline1.py:24-45. Each is a list of
# (upper_bound_inclusive, score); the final None bound is the inf tail.
RECENCY_MAP: list[tuple[int | None, int]] = [
    (-1, 1), (7, 5), (30, 4), (90, 3), (180, 2), (None, 1),
]
FREQUENCY_MAP: list[tuple[int | None, int]] = [
    (3, 2), (5, 3), (7, 4), (10, 5), (None, 1),
]
MONETARY_MAP: list[tuple[int | None, int]] = [
    (5000, 2), (10000, 3), (25000, 4), (50000, 5), (None, 1),
]


def sql_str(s: str) -> str:
    """A Spark SQL string literal for ``s``: single-quoted, with
    backslash and quote escaped (the default
    ``spark.sql.parser.escapedStringLiterals=false`` reading), and
    ``$`` as the ``\\u0024`` escape, because the parser substitutes
    ``${...}`` variables in the text before it reads the literals
    (``spark.sql.variable.substitute``)."""
    escaped = s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return "'" + escaped + "'"


def sql_name(name: str) -> str:
    """A backquoted Spark SQL identifier for the column ``name``."""
    return "`" + name.replace("`", "``") + "`"


def _case(branches: list[tuple[str, str]], otherwise: str) -> str:
    whens = " ".join(f"WHEN {cond} THEN {value}" for cond, value in branches)
    return f"CASE {whens} ELSE {otherwise} END"


def age_group(age: str) -> str:
    """reference batch_pipeline1.py:176-180."""
    return _case(
        [(f"{age} < 30", sql_str("young")), (f"{age} < 50", sql_str("middle_aged"))],
        sql_str("senior"),
    )


def wealth_segment(balance: str) -> str:
    """reference batch_pipeline1.py:183-188 (thresholds :22-23)."""
    return _case(
        [
            (f"{balance} > 50000", sql_str("high_net_worth")),
            (f"{balance} > 10000", sql_str("mass_affluent")),
        ],
        sql_str("mass_market"),
    )


def contact_day_type(day: str) -> str:
    """reference batch_pipeline1.py:191 — day-of-month modulo quirk."""
    return _case([(f"{day} % 7 IN (0, 6)", sql_str("weekend"))], sql_str("weekday"))


def has_loans(housing: str, loan: str) -> str:
    """reference batch_pipeline1.py:194."""
    yes = sql_str("yes")
    return f"(({housing} = {yes}) OR ({loan} = {yes}))"


def engagement_score(previous: str, campaign: str, duration: str, y: str) -> str:
    """Mean of four clamped factors, reference batch_pipeline1.py:196-203.

    All arithmetic in double, same association order as the reference so
    IEEE-754 results are bit-identical to the SQL oracle.
    """
    prev_f = f"least({previous}, 10) / 10.0D"
    camp_f = f"least({campaign}, 10) / 10.0D"
    dur_f = f"least({duration}, 1000) / 1000.0D"
    y_f = _case([(f"{y} = {sql_str('yes')}", "1.0D")], "0.0D")
    return f"(({prev_f} + {camp_f} + {dur_f} + {y_f}) / 4.0D)"


def _threshold_score(value: str, mapping: list[tuple[int | None, int]]) -> str:
    """``_calculate_score`` (reference batch_pipeline1.py:255-259) as a
    CASE chain: thresholds ascending, first ``value <= bound`` wins,
    the None (inf) tail is the ``ELSE``.
    """
    *finite, (tail_bound, tail_score) = mapping
    assert tail_bound is None, "mapping must end with a None (inf) tail"
    return _case([(f"{value} <= {bound}", str(score)) for bound, score in finite], str(tail_score))


def recency_score(pdays: str) -> str:
    return _threshold_score(pdays, RECENCY_MAP)


def frequency_score(previous: str) -> str:
    return _threshold_score(previous, FREQUENCY_MAP)


def monetary_score(balance: str) -> str:
    return _threshold_score(balance, MONETARY_MAP)


def rfm_json(recency: str, frequency: str, monetary: str) -> str:
    """``rfm_scores`` JSON string, reference batch_pipeline1.py:232-237.

    ``to_json(named_struct(...))`` yields compact ``{"recency":R,...}``
    with key order = struct field order, matching both the reference's
    ``json.dumps`` key order and DuckDB's ``to_json(struct_pack(...))``.
    """
    fields = [("recency", recency), ("frequency", frequency), ("monetary", monetary)]
    return "to_json(named_struct(" + ", ".join(f"{sql_str(k)}, {v}" for k, v in fields) + "))"


def customer_segment(recency: str, frequency: str, monetary: str) -> str:
    """Tier from avg(r,f,m), reference batch_pipeline1.py:239-241,261-269."""
    avg = f"(({recency} + {frequency} + {monetary}) / 3.0D)"
    return _case(
        [
            (f"{avg} >= 4", sql_str("premium")),
            (f"{avg} >= 3", sql_str("high_value")),
            (f"{avg} >= 2", sql_str("medium_value")),
        ],
        sql_str("low_value"),
    )
