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


def _footer_schema(spark: SparkSession, path: str):
    """``(schema, ns_cols)`` from one parquet file's footer: the schema
    ``spark.read.parquet`` infers, and the columns stored as
    TIMESTAMP(NANOS), which Spark reads only as long, under ``nanosAsLong``.
    ``schema`` is None when the footer holds a type the mapping leaves to
    Spark's inference: INT96, one :func:`_left_to_inference` names, or one
    without an Arrow→Spark conversion (unsigned ints, ...)."""
    import json

    import pyarrow.parquet as pq
    import pyarrow.types as pat
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    with pq.ParquetFile(path) as pf:
        arrow = pf.schema_arrow
        cols = {c.path: c for c in map(pf.schema.column, range(len(pf.schema)))}
    # top-level INT64 timestamps: {name: {"timeUnit", "isAdjustedToUTC"}}
    ts = {
        f.name: json.loads(cols[f.name].logical_type.to_json())
        for f in arrow
        if pat.is_timestamp(f.type) and cols[f.name].physical_type == "INT64"
    }
    ns_cols = [c for c, t in ts.items() if t["timeUnit"] == "nanoseconds"]
    if any(f.name not in ts and _left_to_inference(f.type) for f in arrow):
        return None, ns_cols
    # Spark's rule for a MILLIS/MICROS column not adjusted to UTC
    infer_ntz = any(not t["isAdjustedToUTC"] for t in ts.values()) and spark.conf.get(
        "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
    ) == "true"

    def spark_type(f):
        t = ts.get(f.name)
        if t is None:
            return from_arrow_type(f.type)
        if t["timeUnit"] == "nanoseconds":
            return T.LongType()
        if infer_ntz and not t["isAdjustedToUTC"]:
            return T.TimestampNTZType()
        return T.TimestampType()

    try:
        return T.StructType([T.StructField(f.name, spark_type(f)) for f in arrow]), ns_cols
    except TypeError:  # no Arrow→Spark conversion
        return None, ns_cols


def _left_to_inference(t) -> bool:
    """Spark reads ``t`` other than its Arrow conversion says — a timestamp
    (unit and UTC flag decide; mapped above only at top level), a duration
    (read as long), a time — or ``t`` nests such a type."""
    import pyarrow.types as pat

    return (
        pat.is_timestamp(t) or pat.is_duration(t) or pat.is_time(t)
        or any(_left_to_inference(t.field(i).type) for i in range(t.num_fields))
    )


def _read_parquet(spark: SparkSession, path: str):
    schema, ns_cols = _footer_schema(spark, path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path), ns_cols


def read_parquet(spark: SparkSession, path: str):
    """``spark.read.parquet(path)`` of one parquet file, with the schema
    declared from the file's footer instead of inferred: inference runs a
    one-task Spark job per read, the declared schema none. The schema is
    the one Spark infers (TIMESTAMP(NANOS) columns as long, with
    ``nanosAsLong`` set on the session as :func:`read_table` explains);
    a footer type the mapping does not cover falls back to inference."""
    return _read_parquet(spark, path)[0]


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

    df, ns_cols = _read_parquet(spark, table_path(sf_dir, name))
    for c in ns_cols:
        # integer div — float division would lose precision above 2^53 ns
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df
