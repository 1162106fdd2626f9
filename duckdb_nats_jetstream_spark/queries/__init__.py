"""Named query registry — the oracle-checked capability surface.

Each module exports ``QUERIES: dict[name -> (spark_fn, oracle_sql | None)]``
where ``spark_fn(spark, sf_dir) -> DataFrame`` and ``oracle_sql`` is the
DuckDB-equivalent ANSI SQL (None for genuinely non-SQL-expressible ops, which
are checked rows-only).
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
#: Oracle slot: a literal SQL string, None (rows-only), or a ZERO-ARG
#: CALLABLE returning either — used by oracles that are expensive to build
#: (DuckDB k-means codebook training) so module import stays side-effect
#: free; ``full_registry`` resolves callables lazily, keyed on the oracle
#: SF dir so a late ``SPARK_GRAFT_ORACLE_SF_DIR`` change can't serve a
#: stale codebook.
OracleSql = str | None | Callable[[], str | None]
Registry = dict[str, tuple[QueryFn, str | None]]

_ORACLE_CACHE: dict[tuple[Callable[[], str | None], str], str | None] = {}


def _resolve_oracle(sql: OracleSql) -> str | None:
    if not callable(sql):
        return sql
    key = (sql, os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", ""))
    if key not in _ORACLE_CACHE:
        try:
            _ORACLE_CACHE[key] = sql()
        except Exception as exc:  # noqa: BLE001 — degrade THIS entry only
            warnings.warn(
                f"oracle SQL builder {getattr(sql, '__qualname__', sql)!r} "
                f"failed ({exc!r}); query degrades to rows-only",
                stacklevel=2,
            )
            _ORACLE_CACHE[key] = None
    return _ORACLE_CACHE[key]


#: rows-only queries (no oracle) sit at the end of the registry.
_ROWS_ONLY_LAST: list[str] = ["multimodal_phash", "multimodal_resize"]


def full_registry() -> Registry:
    from duckdb_nats_jetstream_spark.queries import (
        pipeline,
        pipeline2,
        pipeline3,
        pipeline4,
        pipeline5,
        pipeline6,
        pipeline7,
        relational,
        relational2,
        stream,
    )

    merged: Registry = {}
    for mod in (
        pipeline,
        pipeline2,
        pipeline3,
        pipeline4,
        pipeline5,
        pipeline6,
        pipeline7,
        relational2,
        stream,
        relational,
    ):
        for name, (fn, sql) in mod.QUERIES.items():
            assert name not in merged, f"duplicate query name {name}"
            merged[name] = (fn, _resolve_oracle(sql))

    out = {n: e for n, e in merged.items() if n not in _ROWS_ONLY_LAST}
    for name in _ROWS_ONLY_LAST:
        out[name] = merged[name]
    return out
