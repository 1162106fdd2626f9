"""Sink/export surface — the Spark-side answer to the reference's single
export path, ``COPY (...) TO 'file.parquet' (FORMAT PARQUET)``
(ref:docs/EXAMPLES.md:225-233), plus the sinks a 100 TB pipeline actually
needs: hive-partitioned layout for pruned downstream reads, bucketed tables
for shuffle-free repeat joins, and an idempotent streaming appender.

Scale notes baked into each writer:

- ``write_partitioned_parquet`` repartitions BY THE PARTITION COLUMNS before
  ``partitionBy``. Without that, every task holds a file handle per distinct
  partition value it sees — T tasks × P values = T×P small files, the classic
  small-file explosion. With it, each hive partition is produced by at most
  ``files_per_partition`` tasks.
- ``write_bucketed_table`` persists the shuffle: subsequent equi-joins or
  aggregations on the bucket columns read co-located data and skip the
  exchange entirely (asserted by ``tests/test_bucketing.py``).
- ``idempotent_parquet_sink`` routes each micro-batch through
  ``foreachBatch`` into ``<path>/batch=<id>`` with overwrite — a replayed
  batch (failure/restart) rewrites its own directory instead of duplicating
  rows, giving effectively-exactly-once file output on top of Spark's
  at-least-once replay.
- every writer pins ``TIMESTAMP_MICROS`` (INT64) for the duration of the
  write: Spark's DEFAULT parquet timestamp encoding is INT96, which carries
  no usable min/max statistics — a time-range scan over a log written with
  it decodes every row group no matter how well-sorted the layout is
  (measured: SCALING.md batch 22, 100% vs 1.6% decoded on the same sorted
  file). INT64 µs keeps the stats and matches the reference's µs message
  timestamps.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from duckdb_nats_jetstream_spark.errors import BindError
from duckdb_nats_jetstream_spark.session import scoped_conf

_TS_CONF = "spark.sql.parquet.outputTimestampType"


def _prunable_timestamps(spark):
    """Pin INT64-µs timestamp encoding around a write, restoring the
    caller's session conf after — see the module docstring for why INT96
    (the Spark default) silently disables row-group pruning downstream.
    Overlapping writes on one session and foreachBatch's cloned sessions
    are handled by :func:`session.scoped_conf`.

    Cross-writer effect (r07 ADVICE, accepted as documented): the conf is
    session-global, so an unrelated THIRD-PARTY parquet write issued from
    another thread during the pin window also gets TIMESTAMP_MICROS.
    That is a benign encoding for any reader (µs is exactly the precision
    a Spark timestamp carries; INT96 only matters to legacy readers), but
    it is observable in the written footers. Deployments that need INT96
    for a legacy reader should serialize such writes around these sinks —
    or pin the conf at session build, which makes the window moot."""
    return scoped_conf(spark, _TS_CONF, "TIMESTAMP_MICROS")


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet export sized against small-file explosion."""
    if not partition_cols:
        raise BindError("partition_cols must be non-empty; use df.write.parquet directly")
    missing = [c for c in partition_cols if c not in df.columns]
    if missing:
        raise BindError(f"partition column(s) not in DataFrame: {missing}")
    out = df.repartition(*partition_cols)
    if files_per_partition > 1:
        from pyspark.sql import functions as F

        # salt the repartition key to fan one huge partition value out over
        # several tasks/files (skew defense) while keeping values co-located.
        # Content hash, NOT rand(): a nondeterministic shuffle key loses or
        # duplicates rows when a task retries after a fetch failure
        # (SPARK-23207 class) — unacceptable in a sink that advertises
        # replay safety. Caveat: byte-identical duplicate rows share a salt,
        # so a partition of EXACT duplicates still writes few files.
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]),
            F.lit(files_per_partition),
        )
        out = df.repartition(*partition_cols, salt.alias("__salt")).drop("__salt")
    with _prunable_timestamps(df.sparkSession):
        out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist with a bucketed layout so later joins/aggs on ``bucket_cols``
    skip their shuffle (Spark managed table — bucketing metadata lives in the
    session catalog)."""
    if not bucket_cols:
        raise BindError("bucket_cols must be non-empty")
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    with _prunable_timestamps(df.sparkSession):
        w.format("parquet").saveAsTable(table)


def idempotent_parquet_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_cols: list[str] | None = None,
):
    """Streaming parquet appender with replay-safe output: each micro-batch
    overwrites its own ``batch=<id>`` directory, so an at-least-once replay
    after failure cannot double-write. Returns the started query
    (``availableNow`` trigger — drains current input, then stops)."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        w = batch_df.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        with _prunable_timestamps(batch_df.sparkSession):
            w.parquet(f"{path}/batch={batch_id}")

    return (
        stream_df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_batched_parquet(spark, path: str) -> DataFrame:
    """Read everything an :func:`idempotent_parquet_sink` produced (the
    ``batch=<id>`` level is a normal hive partition column, dropped here)."""
    return spark.read.option("basePath", path).parquet(f"{path}/batch=*").drop("batch")


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> int:
    """Small-file compaction (the OPTIMIZE/maintenance pass every streaming
    sink eventually needs): rewrite a fragmented parquet directory into
    ``ceil(input_bytes / target_file_bytes)`` size-targeted files,
    optionally re-establishing a hive partition layout. Returns the
    size-derived file-count target — in flat mode exactly that many files
    are written; in partitioned mode the layout writer produces one file
    per hive partition instead (small-file discipline comes from the
    partition-column repartition) and the return value is informational.

    Sizing reads the source's file statuses through the Hadoop FileSystem
    API (works for any supported scheme, not just local paths); the data
    itself moves through one repartition — no driver materialization."""
    import math

    if os.path.abspath(src_path) == os.path.abspath(dst_path):
        raise BindError(
            "compact_parquet: dst_path must differ from src_path — "
            "overwriting the directory being lazily read loses the data"
        )
    df = spark.read.parquet(src_path)
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    total = 0
    for uri in df.inputFiles():
        p = jvm.org.apache.hadoop.fs.Path(uri)
        fs = p.getFileSystem(hconf)
        total += fs.getFileStatus(p).getLen()
    n_files = max(1, math.ceil(total / target_file_bytes))
    if partition_cols:
        write_partitioned_parquet(
            df, dst_path, partition_cols, files_per_partition=1
        )
    else:
        with _prunable_timestamps(spark):
            df.repartition(n_files).write.mode("overwrite").parquet(dst_path)
    return n_files


def write_ann_index(
    df,
    path: str,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    seed: int = 42,
    mode: str = "overwrite",
    fit_sample_size: int = 100_000,
) -> list[list[float]]:
    """Persist an IVF-style ANN index as a cluster-partitioned parquet
    layout: train centroids on a bounded sample (same codebook path as
    :func:`operators.similarity.ivf_topk`), assign every vector, and write
    hive-partitioned by ``cluster``.

    The payoff is *partition-pruned serving*: a probe that searches
    ``n_probe`` clusters reads only ``n_probe/n_clusters`` of the corpus
    bytes — Spark's partition pruning turns the cluster filter into a
    directory skip, no data touched (asserted by the sink test via
    the plan's ``PartitionFilters``). This is the batch-serving complement of the query-
    side ``ivf_topk``: build once, probe many.

    Returns the trained centroid matrix (k×dim floats) — the caller stores
    it next to the index (it IS the index metadata a prober needs).
    """
    from pyspark.sql import functions as F
    from duckdb_nats_jetstream_spark.operators.similarity import (
        fit_codebook,
        nearest_centroid_udf,
    )

    # totality: a NULL or wrong-dimension embedding row cannot be assigned
    # a centroid (or train one) — np.stack inside the Arrow kernels would
    # throw an opaque shape error and kill the whole index build. Such rows
    # are excluded from BOTH the fit sample and the index EXPLICITLY (same
    # policy as zero-norm embeddings in the query-side ANN operators:
    # never a crash, never a bogus neighbor).
    indexable = df.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    )
    c_list = fit_codebook(
        indexable, n_clusters, seed, vec_col, id_col, fit_sample_size
    )
    if any(len(c) != dim for c in c_list):
        from duckdb_nats_jetstream_spark.errors import BindError

        raise BindError(
            f"embedding dimension mismatch: expected {dim}, "
            f"codebook fit produced {len(c_list[0])}"
        )
    assigned = indexable.withColumn(
        "cluster", nearest_centroid_udf(c_list)(F.col(vec_col).cast("array<double>"))
    )
    write_partitioned_parquet(assigned, path, ["cluster"], mode=mode)
    return c_list
