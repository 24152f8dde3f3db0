"""Registry invariants — the contracts between __spark_entry__.py,
bench.py, and the driver's 50-slot correctness window. These are the
mistakes that are trivial to make while rotating the window by hand
(r7 misplaced the boundary marker twice) and invisible until a judge
or driver run trips over them."""

from __future__ import annotations

import importlib.util
import re

from conftest import SF_DIR


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_window_query_has_an_oracle_twin():
    mod = _load_entry()
    names = list(mod.queries())
    oq = mod.oracle_sql()
    missing = [n for n in names[:50] if n not in oq]
    assert not missing, missing


def test_no_orphan_oracles():
    mod = _load_entry()
    names = set(mod.queries())
    orphans = [n for n in mod.oracle_sql() if n not in names]
    assert not orphans, orphans


def test_bench_list_matches_registry_exactly():
    """Every registered query gets a round-over-round regression
    record, and bench never times an unregistered name."""
    import bench

    mod = _load_entry()
    qs = set(mod.queries())
    b = set(bench.BENCH_QUERIES)
    assert qs == b, (sorted(qs - b), sorted(b - qs))
    assert len(bench.BENCH_QUERIES) == len(b)  # no duplicates


def test_window_boundary_marker_sits_at_slot_50():
    """The 'falls HERE' comment in queries() must directly precede the
    51st entry — a misplaced marker silently misdocuments which
    queries the driver actually checks."""
    src = open("/root/repo/__spark_entry__.py").read()
    body = src.split("def queries()")[1].split("def oracle_sql()")[0]
    entries_before_marker = len(
        re.findall(r'"[a-z0-9_]+": Q\.', body.split("falls HERE")[0])
    )
    assert "falls HERE" in body
    assert entries_before_marker == 50, entries_before_marker


def test_registered_query_resets_session_conf(spark):
    """The registry's per-query scope re-pins the parity-relevant conf
    on a session someone else tuned differently."""
    tz, nanos = "spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong"
    old = (spark.conf.get(tz), spark.conf.get(nanos))
    try:
        spark.conf.set(tz, "America/New_York")
        spark.conf.set(nanos, "false")
        _load_entry().queries()["age_group"](spark, SF_DIR)
        assert spark.conf.get(tz) == "UTC"
        assert spark.conf.get(nanos) == "true"
    finally:
        spark.conf.set(tz, old[0])
        spark.conf.set(nanos, old[1])


def test_every_builder_is_registered_exactly_once():
    """No query builder without a registered query: the public
    functions of queries.py are exactly what queries() wraps."""
    import inspect

    from banking_data_etl_pipeline_spark import queries as Q

    defined = {
        f
        for n, f in vars(Q).items()
        if inspect.isfunction(f) and f.__module__ == Q.__name__ and not n.startswith("_")
    }
    registered = [fn.__wrapped__ for fn in _load_entry().queries().values()]
    assert len(registered) == len(set(registered))
    assert defined == set(registered), (
        sorted(f.__name__ for f in defined - set(registered)),
        sorted(f.__name__ for f in set(registered) - defined),
    )
