from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from actyxos_data_flow_spark.session import CODEGEN_CACHE_MAX_ENTRIES

    s = (
        SparkSession.builder.master("local[4]")
        .appName("tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def rows(df, *cols):
    """Sorted list-of-tuples for order-insensitive comparison."""
    data = [tuple(r) for r in (df.select(*cols) if cols else df).collect()]
    return sorted(data, key=lambda t: tuple((v is None, str(v)) for v in t))
