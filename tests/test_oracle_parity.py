"""Run every registered query against its DuckDB oracle at sf0.01, under both
the tuned ``get_spark()`` session and a plain default one. Parametrized per
query so failures are attributable."""

from __future__ import annotations

import os

import pytest

from duckdb_nats_jetstream_spark.queries import full_registry
from tests.oracle_harness import compare, duckdb_conn

ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

REGISTRY = full_registry()

#: the ``spark.sql.*`` keys ``get_spark()`` sets; the plain session unsets them
TUNED_SQL_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
)


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(ORACLE_SF_DIR)
    yield c
    c.close()


@pytest.fixture(scope="module")
def sessions(spark):
    plain = spark.newSession()
    for key in TUNED_SQL_KEYS:
        plain.conf.unset(key)
    return {"tuned": spark, "plain": plain}


@pytest.mark.parametrize(
    "kind,name",
    [pytest.param("tuned", n, id=n) for n in sorted(REGISTRY)]
    + [pytest.param("plain", n, id=f"{n}-plain") for n in sorted(REGISTRY)],
)
def test_query_matches_oracle(sessions, con, kind, name):
    fn, sql = REGISTRY[name]
    df = fn(sessions[kind], ORACLE_SF_DIR)
    if sql is None:
        assert df.count() >= 0  # rows-only check, like the driver
        return
    problems = compare(df, con, sql, name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("kind", ["tuned", "plain"])
def test_entry_smoke(sessions, kind):
    import __spark_entry__ as e

    df = e.entry(sessions[kind])
    rows = df.collect()
    assert len(rows) >= 0 and df.columns
