"""Deterministic synthetic bank-marketing rows derived from the driver's
``orders`` parquet table.

The reference consumes the UCI Bank Marketing CSV (stripped from its
repo — ``.MISSING_LARGE_BLOBS``), while the driver's correctness gate
runs on the shared TPC-H-ish parquet tables. Bridge: derive a bank row
deterministically from ``o_orderkey`` with expressions written in the
ANSI-SQL subset that Spark SQL and DuckDB evaluate *identically* — each
field is defined once below and used verbatim by both engines, so
Spark-vs-oracle parity holds by construction.

Values deliberately cover every branch of the reference semantics:
ages outside [18,100] (validation errors), balances straddling all
wealth/monetary thresholds including the >50000 quirk tail, pdays=-1
and >180, previous>10, clamp boundaries for engagement factors, and
mixed-case/whitespace categorical strings (normalization under test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# (column, shared SQL expression over the `orders` table)
BANK_EXPRS: list[tuple[str, str]] = [
    ("bank_id", "o_orderkey"),
    ("age", "CAST(15 + o_orderkey % 90 AS INT)"),
    (
        "job",
        "CASE CAST(o_orderkey % 5 AS INT) WHEN 0 THEN ' Admin. ' WHEN 1 THEN 'technician'"
        " WHEN 2 THEN 'MANAGEMENT' WHEN 3 THEN 'blue-collar' ELSE ' UNKNOWN ' END",
    ),
    (
        "marital",
        "CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'Married' WHEN 1 THEN 'single'"
        " ELSE ' divorced' END",
    ),
    (
        "education",
        "CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN 'primary' WHEN 1 THEN 'Secondary '"
        " WHEN 2 THEN 'tertiary' ELSE 'unknown' END",
    ),
    ("default", "CASE WHEN o_orderkey % 7 = 0 THEN 'YES' ELSE 'no' END"),
    ("balance", "CAST(o_orderkey % 110000 AS DOUBLE) - 8000.0"),
    ("housing", "CASE WHEN o_orderkey % 2 = 0 THEN 'yes' ELSE 'No ' END"),
    ("loan", "CASE WHEN o_orderkey % 3 = 0 THEN ' yes' ELSE 'no' END"),
    (
        "contact",
        "CASE WHEN o_orderkey % 5 IN (0, 1) THEN 'Cellular' WHEN o_orderkey % 5 = 2"
        " THEN 'telephone' ELSE 'unknown' END",
    ),
    ("day", "CAST(1 + o_orderkey % 31 AS INT)"),
    (
        "month",
        "CASE CAST(o_orderkey % 12 AS INT) WHEN 0 THEN 'jan' WHEN 1 THEN 'feb'"
        " WHEN 2 THEN 'mar' WHEN 3 THEN 'apr' WHEN 4 THEN 'may' WHEN 5 THEN 'jun'"
        " WHEN 6 THEN 'jul' WHEN 7 THEN 'aug' WHEN 8 THEN 'sep' WHEN 9 THEN 'oct'"
        " WHEN 10 THEN 'nov' ELSE 'dec' END",
    ),
    ("duration", "CAST(o_orderkey % 1200 AS INT)"),
    ("campaign", "CAST(1 + o_orderkey % 15 AS INT)"),
    ("pdays", "CAST(o_orderkey % 400 AS INT) - 1"),
    ("previous", "CAST(o_orderkey % 13 AS INT)"),
    (
        "poutcome",
        "CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN 'success' WHEN 1 THEN 'failure'"
        " WHEN 2 THEN 'other' ELSE 'unknown' END",
    ),
    ("y", "CASE WHEN o_orderkey % 5 = 0 THEN 'yes' ELSE 'no' END"),
]

# NB: `default` is a keyword in both engines — quote it where selected.


def bank_select_items(dialect: str = "duckdb") -> list[str]:
    """The shared SELECT items. The expressions are identical in both
    engines; only identifier quoting differs (`default` is a keyword):
    DuckDB takes ANSI double quotes, Spark takes backticks."""
    assert dialect in ("duckdb", "spark")
    q = '"' if dialect == "duckdb" else "`"
    return [
        f"{expr} AS {q}{name}{q}" if name == "default" else f"{expr} AS {name}"
        for name, expr in BANK_EXPRS
    ]


def bank_cte() -> str:
    """DuckDB/ANSI CTE body producing the synthetic bank table from the
    pre-registered ``orders`` view."""
    items = ",\n    ".join(bank_select_items("duckdb"))
    return f"SELECT\n    {items}\nFROM orders"


def bank_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same table via Spark, from the orders parquet."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return orders.selectExpr(*bank_select_items("spark"))


# --- Raw CSV line synthesis (for the parse/error-channel operators) ---
#
# Builds one semicolon-joined 17-column line per order, with
# deterministic malformations:
#   o_orderkey % 97 == 0 -> only 16 columns  (parsing_error: column count)
#   o_orderkey % 89 == 0 -> age = 'not_a_number' (parsing_error: cast)
# Other rows parse clean; ages outside [18,100] then become
# data_validation errors, matching the reference's staged channels.

RAW_LINE_SQL = (
    "CASE WHEN o_orderkey % 97 = 0 THEN "
    "concat_ws(';', CAST(15 + o_orderkey % 90 AS STRING), 'job', 'single', 'primary',"
    " 'no', '100.0', 'yes', 'no', 'cellular', '5', 'jan', '100', '2', '10', '1', 'success')"
    " WHEN o_orderkey % 89 = 0 THEN "
    "concat_ws(';', 'not_a_number', 'job', 'single', 'primary', 'no', '100.0', 'yes',"
    " 'no', 'cellular', '5', 'jan', '100', '2', '10', '1', 'success', 'no')"
    " ELSE concat_ws(';', CAST(15 + o_orderkey % 90 AS STRING), 'job', 'single',"
    " 'primary', 'no', CAST(CAST(o_orderkey % 110000 AS DOUBLE) - 8000.0 AS STRING),"
    " 'yes', 'no', 'cellular', CAST(1 + o_orderkey % 31 AS STRING), 'jan',"
    " CAST(o_orderkey % 1200 AS STRING), CAST(1 + o_orderkey % 15 AS STRING),"
    " CAST(o_orderkey % 400 - 1 AS STRING), CAST(o_orderkey % 13 AS STRING),"
    " 'success', 'no') END"
)


RAW_LINE_ITEMS = ("o_orderkey AS line_id", f"{RAW_LINE_SQL} AS line")


def raw_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return orders.selectExpr(*RAW_LINE_ITEMS)


def raw_lines_cte() -> str:
    return f"SELECT {', '.join(RAW_LINE_ITEMS)} FROM orders"
