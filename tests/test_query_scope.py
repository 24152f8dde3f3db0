"""Cross-query state has one owner: pins are scoped to the thread that
made them, caches live on the SparkContext, and no module-level
container grows while registered queries run."""

from __future__ import annotations

import importlib
import os
import pkgutil
import subprocess
import sys
import threading

import __spark_entry__ as entry
import banking_data_etl_pipeline_spark as pkg
from banking_data_etl_pipeline_spark import session as S

from conftest import SF_DIR

PKG = pkg.__name__
# a memo of a pure function (quantization tables by quality): bounded
# by its inputs, not by the number of queries run
EXEMPT = {(f"{PKG}.multimodal.jpeg", "_LUT_CACHE")}


def test_pins_are_scoped_per_thread(spark, monkeypatch):
    """Thread A builds a pinning query, then thread B opens its own
    scope with another one: A's frames stay cached until A closes its
    own scope, and A's close leaves B's frames cached."""
    original = S.pin_for_query
    pinned: dict[int, list] = {}

    def recording(df):
        pinned.setdefault(threading.get_ident(), []).append(df)
        return original(df)

    monkeypatch.setattr(S, "pin_for_query", recording)
    qs = entry.queries()
    barrier = threading.Barrier(2, timeout=600)
    cached: dict[str, list[bool]] = {}
    errors: list[BaseException] = []

    def mine() -> list:
        return pinned[threading.get_ident()]

    def first():
        qs["top_supplier"](spark, SF_DIR).collect()
        barrier.wait()  # 1: A's scope is open and pinned
        barrier.wait()  # 2: B opened its scope
        cached["a_after_b_opened"] = [d.storageLevel.useMemory for d in mine()]
        S.release_pinned()
        cached["a_after_a_closed"] = [d.storageLevel.useMemory for d in mine()]
        barrier.wait()  # 3: A closed its scope

    def second():
        barrier.wait()
        qs["quantile_normalize"](spark, SF_DIR).collect()
        barrier.wait()
        barrier.wait()
        cached["b_after_a_closed"] = [d.storageLevel.useMemory for d in mine()]
        S.release_pinned()
        cached["b_after_b_closed"] = [d.storageLevel.useMemory for d in mine()]

    def run(step):
        try:
            step()
        except BaseException as e:  # surfaced in the main thread below
            errors.append(e)
            barrier.abort()

    threads = [threading.Thread(target=run, args=(f,)) for f in (first, second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(pinned) == 2
    assert cached["a_after_b_opened"] and all(cached["a_after_b_opened"])
    assert cached["b_after_a_closed"] and all(cached["b_after_a_closed"])
    assert not any(cached["a_after_a_closed"])
    assert not any(cached["b_after_b_closed"])


def _module_container_sizes() -> dict[tuple[str, str], int]:
    sizes = {}
    for name, mod in list(sys.modules.items()):
        if name != PKG and not name.startswith(PKG + "."):
            continue
        for attr, val in vars(mod).items():
            if attr.startswith("__") or (name, attr) in EXEMPT:
                continue
            if isinstance(val, (dict, list, set)):
                sizes[(name, attr)] = len(val)
    return sizes


def test_registered_queries_grow_no_module_state(spark):
    for m in pkgutil.walk_packages(pkg.__path__, PKG + "."):
        importlib.import_module(m.name)
    before = _module_container_sizes()
    qs = entry.queries()
    for name in ("pq_topk", "top_supplier"):
        assert qs[name](spark, SF_DIR).collect()
    after = _module_container_sizes()
    grown = {k: (before.get(k), n) for k, n in after.items() if before.get(k) != n}
    assert not grown, grown


_STOPPED_SESSION = r"""
import sys

import __spark_entry__ as entry
from banking_data_etl_pipeline_spark import session as S

PKG = "banking_data_etl_pipeline_spark"
sf_dir = sys.argv[1]

spark = S.get_spark("stopped_session_cache", cpus=2, shuffle_partitions=2)
cache = S.session_cache(spark)
cache["probe"] = object()
assert entry.queries()["pq_topk"](spark, sf_dir).collect()
old = list(cache.values())
assert len(old) > 1, "pq_topk memoized nothing in session_cache"
spark.stop()

spark = S.get_spark("stopped_session_cache", cpus=2, shuffle_partitions=2)
fresh = S.session_cache(spark)
assert fresh == {} and fresh is not cache, fresh


def held(val):
    if isinstance(val, dict):
        items = [*val.keys(), *val.values()]
    elif isinstance(val, (list, set, tuple, frozenset)):
        items = list(val)
    else:
        items = [val]
    return val is cache or any(i is o for i in items for o in old)


refs = [
    (name, attr)
    for name, mod in list(sys.modules.items())
    if name == PKG or name.startswith(PKG + ".")
    for attr, val in vars(mod).items()
    if not attr.startswith("__") and held(val)
]
assert not refs, refs
spark.stop()
print("STOPPED_SESSION_OK")
"""


def test_stopped_session_cache_is_gone():
    """A stopped SparkContext's cache goes with it: the next session's
    cache starts empty and no package module still refers to the old
    entries. Runs in its own interpreter so the shared fixture session
    stays up."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _STOPPED_SESSION, SF_DIR],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "STOPPED_SESSION_OK" in proc.stdout, (
        proc.stdout[-2000:] + proc.stderr[-4000:]
    )


def test_synthetic_bank_source_registers_no_view(spark):
    """The synthetic bank frames are projections of ``orders``: building
    and running them leaves the session's catalog as it was."""
    from banking_data_etl_pipeline_spark.sources import synthetic

    views = {t.name for t in spark.catalog.listTables()}
    bank = synthetic.bank_table(spark, SF_DIR)
    lines = synthetic.raw_lines(spark, SF_DIR)
    assert bank.count() == lines.count() > 0
    assert {t.name for t in spark.catalog.listTables()} == views
