"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The engine itself lives in ``duckdb_nats_jetstream_spark``; this file only
adapts its query registry to the driver's calling convention.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the reference GUIDE's marquee shape
    (ref:docs/GUIDE.md:203-215) — time-range message scan + JSON extraction +
    cast + GROUP BY + AVG/MAX/COUNT + ORDER BY."""
    from duckdb_nats_jetstream_spark.queries.stream import scan_json_cast_agg

    return scan_json_cast_agg(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from duckdb_nats_jetstream_spark.queries import full_registry

    return {name: entry[0] for name, entry in full_registry().items()}


def oracle_sql() -> dict[str, str]:
    from duckdb_nats_jetstream_spark.queries import full_registry

    return {
        name: sql
        for name, (_fn, sql) in full_registry().items()
        if sql is not None
    }
