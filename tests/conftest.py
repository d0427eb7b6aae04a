from __future__ import annotations

import pytest

from tera_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tera_spark_tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture
def persistent_rdd_ids(spark):
    """A function returning the ids of all RDDs pinned in the block manager
    at the time it is called (localCheckpoint blocks included)."""

    def ids() -> set[int]:
        out, it = set(), spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        while it.hasNext():
            out.add(int(it.next()))
        return out

    return ids


def df_from_rows(spark, rows, schema):
    return spark.createDataFrame(rows, schema)
