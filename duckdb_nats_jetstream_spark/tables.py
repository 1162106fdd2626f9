"""Table access + partition-spread helpers used by virtually every query;
``session.py`` keeps only the session factory.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


@contextlib.contextmanager
def cached(*dfs):
    """The † lifecycle: persist ``dfs`` for the duration of the block and
    unpersist the same handles on any exit, so an error leaks no cache.
    Cache substitution happens when a plan executes, so frames built from
    ``dfs`` before the block still read the cache inside it."""
    try:
        for df in dfs:
            df.persist()
        yield
    finally:
        for df in dfs:
            df.unpersist(blocking=True)


def spread(df, partitions: int | None = None):
    """Round-robin repartition that restores scan-stage parallelism when the
    input arrives as a few unsplittable files (single-row-group parquet, as
    the test fixtures are): without it, everything upstream of the first
    shuffle — per-row Python codecs, md5/shingle expression trees — runs on
    ONE core no matter how many the cluster has. At 100 TB inputs come as
    thousands of files and the scan parallelizes naturally, so the shuffle
    is skipped when the scan already has enough splits. Only call this ahead
    of compute-heavy per-row work; a plain aggregation's map-side partial
    agg is cheaper than the extra exchange.
    """
    spark = df.sparkSession
    target = partitions or spark.sparkContext.defaultParallelism
    # Split-count signal from the leaf relations' file listing — a driver-side
    # metadata read. The previous `df.rdd.getNumPartitions()` check built the
    # full physical plan AND the RDD lineage per call, a planning tax paid on
    # every shingle/codec pipeline (r02 VERDICT). Every call site spreads a
    # just-scanned table, so file count ≈ split floor: many files = the scan
    # already parallelizes, skip; few/unknown files = add the round-robin
    # exchange (cheap relative to the heavy per-row stage it feeds).
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file source — assume it needs the spread
        n_files = 0
    if n_files >= target:
        return df
    if n_files == 0:
        # NON-FILE relation (cached / localCheckpoint / RDD-backed):
        # zero input files says nothing about its parallelism, and
        # re-shuffling an already-well-partitioned materialized input
        # costs ~1× data per codec stage (2×460 MB observed on binary
        # media, stress batch 15). The partition-count probe is gated to
        # THIS branch only: a materialized relation's plan is a leaf, so
        # the probe avoids the per-call planning tax that removed the
        # original unconditional `df.rdd.getNumPartitions()` check (r02
        # VERDICT). File relations never reach it and their plans are
        # byte-identical to before (plan-hash-verified, r08).
        try:
            if df.rdd.getNumPartitions() >= target:
                return df
        except Exception:
            pass
    return df.repartition(target)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ns_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark can't read those
    natively (PARQUET_TYPE_ILLEGAL); we read them as long and convert."""
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    out = []
    for field in schema:
        t = field.type
        if str(t).startswith("timestamp[ns"):
            out.append(field.name)
    return out


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver table; timestamps are normalized to a single canonical
    Spark TimestampType regardless of the parquet flavor:

    - TIMESTAMP(NANOS) parquet (Spark can't read natively) is read as long and
      converted (µs truncation — the same narrowing DuckDB applies, and the
      same ns→µs divide the reference does at ref:src/nats_scan.cpp:749).
    - ``timestamp[us]`` with isAdjustedToUTC=false reads as TIMESTAMP_NTZ in
      Spark 4; with the session time zone pinned to UTC the cast to
      TimestampType is value-identical, and downstream ``unix_micros``/
      watermark/window code sees one type everywhere.

    DELIBERATE session-wide effect: ``nanosAsLong`` stays set for the
    session's lifetime once a ns-flavored table has been read. It cannot
    be save/restored around this call — the conf is consulted at EXECUTION
    time, and the returned DataFrame is lazy — so scoping it would make the
    plan's behavior depend on when an action runs. Consequence for callers
    mixing in their own reads: a plain ``spark.read.parquet`` of some other
    ns-timestamp file on the same session returns raw int64 nanos (instead
    of Spark 4's loud PARQUET_TYPE_ILLEGAL error); route such reads through
    this helper, which converts them.
    """
    from pyspark.sql import functions as F, types as T

    path = table_path(sf_dir, name)
    ns_cols = _ns_timestamp_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        # integer div — float division would lose precision above 2^53 ns
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df
