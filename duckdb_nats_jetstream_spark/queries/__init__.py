"""Named query registry — the oracle-checked capability surface.

Each module exports ``QUERIES: dict[name -> (spark_fn, oracle_sql | None)]``
where ``spark_fn(spark, sf_dir) -> DataFrame`` and ``oracle_sql`` is the
DuckDB-equivalent ANSI SQL (None for genuinely non-SQL-expressible ops, which
are checked rows-only).
"""

from __future__ import annotations

import importlib
import os
import warnings
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
#: Oracle slot: a literal SQL string, None (rows-only), or a ZERO-ARG
#: CALLABLE returning either — used by oracles that are expensive to build
#: (DuckDB k-means codebook training) so neither module import nor
#: ``full_registry`` runs them: the callable runs when the entry's oracle is
#: first read, cached per oracle SF dir so a late
#: ``SPARK_GRAFT_ORACLE_SF_DIR`` change can't serve a stale codebook.
OracleSql = str | None | Callable[[], str | None]

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


class Entry:
    """One registry entry, read as the pair ``(spark_fn, oracle_sql)``.

    ``entry[0]`` is the query builder and reads nothing else. ``entry[1]``
    (and unpacking ``fn, sql = entry``) resolves the oracle slot at that
    moment, through :func:`_resolve_oracle`; readers that only build
    queries index ``[0]`` so they never run a DuckDB oracle."""

    __slots__ = ("fn", "_sql")

    def __init__(self, fn: QueryFn, sql: OracleSql) -> None:
        self.fn = fn
        self._sql = sql

    def __getitem__(self, i: int) -> QueryFn | str | None:
        if i == 0:
            return self.fn
        if i == 1:
            return _resolve_oracle(self._sql)
        raise IndexError("registry entry index out of range")

    def __iter__(self) -> Iterator[QueryFn | str | None]:
        yield self.fn
        yield _resolve_oracle(self._sql)


Registry = dict[str, Entry]

#: the modules whose ``QUERIES`` make up the registry, in registry order
_MODULES: tuple[str, ...] = (
    "pipeline",
    "pipeline2",
    "pipeline3",
    "pipeline4",
    "pipeline5",
    "pipeline6",
    "pipeline7",
    "relational2",
    "stream",
    "relational",
)

#: rows-only queries (no oracle) sit at the end of the registry.
_ROWS_ONLY_LAST: list[str] = ["multimodal_phash", "multimodal_resize"]


def full_registry() -> Registry:
    """Every registered query. Building it imports the query modules and
    runs no oracle builder: each entry resolves its oracle when read."""
    merged: Registry = {}
    for mod in _MODULES:
        for name, (fn, sql) in importlib.import_module(f"{__name__}.{mod}").QUERIES.items():
            assert name not in merged, f"duplicate query name {name}"
            merged[name] = Entry(fn, sql)

    out = {n: e for n, e in merged.items() if n not in _ROWS_ONLY_LAST}
    for name in _ROWS_ONLY_LAST:
        out[name] = merged[name]
    return out
