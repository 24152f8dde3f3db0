from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def lineitem_of(spark, orders):
    """A minimal (l_orderkey, l_partkey) frame from (orderkey, parts)
    pairs — the graph tests' fixture; ``enumerate(baskets)`` numbers a
    plain list of part baskets."""
    rows = [(ok, pk) for ok, parts in orders for pk in parts]
    return spark.createDataFrame(rows, "l_orderkey long, l_partkey long")


@pytest.fixture(scope="session")
def spark():
    from banking_data_etl_pipeline_spark.session import get_spark

    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _query_scope():
    """Each test is one query scope: builders called as ``Q.<name>``
    skip the registry's ``tune_for_oracle``, so close the test thread's
    scope here, as its next registered query would."""
    yield
    from banking_data_etl_pipeline_spark.session import release_pinned

    release_pinned()
