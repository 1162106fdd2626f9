"""Count-min sketch over token frequencies — the bounded-memory frequency
estimator (Cormode & Muthukrishnan 2005), companion to the Bloom membership
screen in :mod:`operators.decon`.

A CMS is a depth × width grid of counters; token t increments one cell per
row (cell_d = hash_d(t) mod width), and its estimate is the MIN over rows.
Estimates never undercount (every true occurrence landed in each probed
cell); collisions only inflate. Width drives accuracy (error ~ N/width per
row), depth drives confidence — the classic sketch dials.

Why it matters at 100 TB: exact token counts need a shuffle keyed by token
(cardinality = vocabulary); the sketch is a CONSTANT-size structure
(depth · 16^width_hex cells) built with one hash aggregation whose key
space is fixed regardless of vocabulary size, and it's mergeable across
partitions/streams by cell-wise addition — the standard way to get
frequencies when the key space itself is the scaling problem.

Cells are md5-hex prefixes (``substr(md5('{d}:' || token), 1, width_hex)``)
— deterministic and byte-identical in Spark and DuckDB, the same device as
`operators.decon.bloom_contamination`.

Reference scope note: beyond the reference extension (scan + extraction
only, ref:src/nats_scan.cpp:700-790); north-star corpus-statistics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from duckdb_nats_jetstream_spark.functions.text import sql_norm, tokens


def _cell(token_col: F.Column, d: int, width_hex: int) -> F.Column:
    return F.substring(
        F.md5(F.concat(F.lit(f"{d}:"), token_col)), 1, width_hex
    )


def _cells(depth: int, width_hex: int) -> F.Column:
    """Token ``t``'s ``depth`` probed cells, one ``s = (d, cell)`` row each."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    _cell(F.col("t"), d, width_hex).alias("cell"),
                )
                for d in range(depth)
            ]
        )
    ).alias("s")


def _sketch_of(
    toks: DataFrame, depth: int, width_hex: int, n: str | None = None
) -> DataFrame:
    """(d, cell, n) cell table from a token relation — one agg over the
    fixed (depth · 16^width_hex) key space. A row of ``toks`` counts once,
    or as many times as its column ``n`` says."""
    keep = [n] if n else []
    cells = toks.select(_cells(depth, width_hex), *keep).select(
        F.col("s.d").alias("d"), F.col("s.cell").alias("cell"), *keep
    )
    total = F.sum(n) if n else F.count("*")
    return cells.groupBy("d", "cell").agg(total.alias("n"))


def countmin_sketch(
    df: DataFrame,
    depth: int = 3,
    width_hex: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """The raw sketch: ``(d, cell, n)``. Mergeable by construction — the
    sketch of a union is the cell-wise SUM of the parts' sketches (tested),
    which is what lets partial sketches roll up across partitions, days,
    or streaming micro-batches without ever re-reading the corpus."""
    toks = (
        df.select(F.explode(tokens(F.col(text_col))).alias("t"))
        .filter(F.col("t") != "")
    )
    return _sketch_of(toks, depth, width_hex)


def countmin_estimates(
    df: DataFrame,
    depth: int = 3,
    width_hex: int = 3,
    top_k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Build a count-min sketch of corpus token frequencies, then report
    the exact top-``top_k`` tokens with their true and estimated counts:
    ``(token, true_n, est_n)`` — ``est_n ≥ true_n`` always (tested), with
    equality unless the token's cells collided.

    The exploded tokens are aggregated once, into exact ``(t, true_n)``
    counts; the sketch sums ``true_n`` per cell (the same integers as
    counting tokens), and the report takes the top-k from the same
    aggregate, so the corpus is read and tokenized once and the two
    consumers share one exchange. A 100 TB run would keep only the sketch
    — it exists so the exact per-token shuffle isn't needed; the exact
    counts are here to make its accuracy auditable by the oracle gate.
    """
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("true_n"))
    )
    sketch = _sketch_of(counts, depth, width_hex, "true_n")
    exact = counts.orderBy(F.col("true_n").desc(), F.col("t")).limit(top_k)
    probes = exact.select("t", "true_n", _cells(depth, width_hex)).select(
        "t", "true_n", F.col("s.d").alias("d"), F.col("s.cell").alias("cell")
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "cell"])
        .groupBy(F.col("t").alias("token"), "true_n")
        .agg(F.min("n").alias("est_n"))
    )


def sql_countmin_estimates(
    depth: int = 3,
    width_hex: int = 3,
    top_k: int = 20,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB mirror — same md5-prefix cells, same min-over-rows."""
    ds = ", ".join(str(d) for d in range(depth))
    return f"""
WITH toks AS (
  SELECT t FROM (
    SELECT unnest(string_split({sql_norm(text_col)}, ' ')) AS t FROM {table}
  ) WHERE t <> ''
),
cells AS (
  SELECT d, substr(md5(CAST(d AS VARCHAR) || ':' || t), 1, {width_hex}) AS cell
  FROM toks, (SELECT unnest([{ds}]) AS d)
),
sketch AS (SELECT d, cell, COUNT(*) AS n FROM cells GROUP BY d, cell),
exact AS (
  SELECT t, COUNT(*) AS true_n FROM toks GROUP BY t
  ORDER BY true_n DESC, t LIMIT {top_k}
),
probes AS (
  SELECT t, true_n, d,
         substr(md5(CAST(d AS VARCHAR) || ':' || t), 1, {width_hex}) AS cell
  FROM exact, (SELECT unnest([{ds}]) AS d)
)
SELECT p.t AS token, p.true_n, MIN(s.n) AS est_n
FROM probes p JOIN sketch s USING (d, cell)
GROUP BY p.t, p.true_n
"""
