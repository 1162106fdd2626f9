"""Reference row counts from the DuckDB oracle SQL each query registers.

Computed once per run on the run's own inputs, outside every timed region;
each timed execution is then checked against its count (see ``run.py``).
"""

from __future__ import annotations

import os

import duckdb


def oracle_counts(data_dir: str, registry: dict, names: list[str]) -> dict[str, int | None]:
    """``name -> row count`` of the query's oracle SQL over the parquet tables
    in ``data_dir``; ``None`` for queries registered without an oracle."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {os.cpu_count() or 1}")
        for fname in sorted(os.listdir(data_dir)):
            if fname.endswith(".parquet"):
                path = os.path.join(data_dir, fname)
                con.execute(f"CREATE VIEW {fname[:-8]} AS SELECT * FROM '{path}'")
        out: dict[str, int | None] = {}
        for name in names:
            sql = registry[name][1]
            if sql is None:
                out[name] = None
                continue
            body = sql.strip().rstrip(";")
            out[name] = con.execute(f"SELECT count(*) FROM (\n{body}\n) AS t").fetchone()[0]
        return out
    finally:
        con.close()
