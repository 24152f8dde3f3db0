"""The recall harness's prepared-plan memo (r9) and the per-query pin
release. The model-JSON and index staging contracts are in
test_staging.py."""

from __future__ import annotations

import pytest

from banking_data_etl_pipeline_spark import queries as Q
from conftest import SF_DIR


@pytest.mark.slowtier
def test_ann_recall_plan_is_memoized_per_corpus(spark):
    df1 = Q.ann_recall(spark, SF_DIR)
    df2 = Q.ann_recall(spark, SF_DIR)
    # same prepared plan object — construction cost paid once
    assert df1 is df2
    # and the memo key is the CORPUS, not the call: a different sf dir
    # must build its own plan
    df3 = Q.ann_recall(spark, "/root/testdata/sf0.01")
    assert df3 is not df1
    # re-executing the memoized plan still yields a stable result
    rows1 = sorted(map(tuple, df1.collect()))
    spark.catalog.clearCache()
    rows2 = sorted(map(tuple, df1.collect()))
    assert rows1 == rows2 and len(rows1) == 5


def test_pinned_persists_release_at_next_query(spark):
    """r13 ADVICE: per-query persisted frames (quantile_normalize's
    vals, top_supplier's rev, the _dist_rank ranged frames) must not
    accumulate across a battery — the next registered query's scope
    releases the previous query's pins."""
    import __spark_entry__ as entry
    from banking_data_etl_pipeline_spark import session as S

    qs = entry.queries()
    S.release_pinned()
    df1 = qs["top_supplier"](spark, SF_DIR)
    df1.collect()
    assert len(S._QUERY_PINS.get()) == 1
    pinned = S._QUERY_PINS.get()[0]
    assert pinned.storageLevel.useMemory
    # next query's builder releases the previous query's pin
    qs["curriculum_order"](spark, SF_DIR).limit(1).collect()
    assert pinned.storageLevel.useMemory is False
    assert all(p is not pinned for p in S._QUERY_PINS.get())
    # the released plan still re-executes correctly (eviction-safe)
    assert df1.count() >= 1
    S.release_pinned()
