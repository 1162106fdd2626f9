"""Structured Streaming over the message log — the reference's roadmap made
real (ref:docs/GUIDE.md:461-465 durable consumers/checkpoints; :479-482 live
tail; :484-488 parallel scanning). The reference implements none of these;
Spark gives them natively:

- ``readStream`` + checkpointLocation = durable consumer position
  (at-least-once delivery resumes from the checkpoint, like a JetStream
  durable consumer);
- watermark + windowed aggregation = late-data-tolerant rollups over
  ``ts_nats``;
- partitioned file/DataSource streams = the parallel scan.

The stream carries the same 5-column message schema as the batch scan and
the ``nats_jetstream`` source, binary payload outside JSON mode included:
all three apply the reference's scan parameters through one function,
``message_scan.apply_scan_parameters``, so every extraction/filter
operator composes unchanged on any of them. ``ts`` is typed and narrowed
by the batch reads' own ``tables`` helpers, so ns timestamps truncate
toward zero to µs, as in every reader, pre-1970 included.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from duckdb_nats_jetstream_spark.session import scoped_conf
from duckdb_nats_jetstream_spark.sinks import _prunable_timestamps
from duckdb_nats_jetstream_spark.tables import NANOS_AS_LONG, canonical_ts, stored_types


def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def message_stream(
    spark: SparkSession,
    log_dir: str,
    stream: str = "events",
    *,
    subject: str | None = None,
    json_fields: list[str] | None = None,
    max_files_per_trigger: int | None = None,
    ts_type: T.DataType | None = None,
) -> DataFrame:
    """``readStream`` over a directory of parquet message-log files,
    projected to the message schema. New files appearing in ``log_dir`` are
    new message batches (the live-tail model). ``ts_nats`` is canonical
    TimestampType whatever the stored flavor (schema.py BASE_FIELDS).

    ``ts_type`` overrides the footer's flavor — required to tail a
    directory that has no files yet. NB: an ns-as-long log sets the SESSION
    conf ``tables.NANOS_AS_LONG`` (Spark offers no per-read form), only
    when needed, as the batch reads do, so a timestamp-flavored stream
    leaves unrelated TIMESTAMP(NANOS) reads on the session as they were."""
    if ts_type is None:
        # a wrong declared flavor fails the scan at its first file, so an
        # EMPTY directory is an error, not a guess
        files = sorted(glob.glob(os.path.join(log_dir, "*.parquet")))
        ts_type = stored_types(spark, files[0])[0].get("ts") if files else None
        if ts_type is None:
            raise ValueError(
                f"message_stream: no *.parquet in {log_dir!r} with a ts column to "
                "infer the ts flavor from — pass ts_type= explicitly (LongType for "
                "ns-as-long logs, TimestampNTZType/TimestampType for "
                "timestamp-encoded logs) to tail a not-yet-written directory"
            )
    elif isinstance(ts_type, T.LongType):
        spark.conf.set(NANOS_AS_LONG, "true")
    reader = spark.readStream.schema(_events_raw_schema(ts_type)).format("parquet")
    if max_files_per_trigger is not None:
        # bounds each micro-batch (availableNow honors it too) — the knob
        # tests use to force multi-batch state round-trips
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(log_dir)
    # one definition with the batch scan and the DataSource: the
    # events→message mapping and the reference's post-scan parameters
    from duckdb_nats_jetstream_spark.sources.message_scan import (
        apply_scan_parameters,
        message_projection,
    )

    return apply_scan_parameters(
        lambda: raw.select(*message_projection(stream, canonical_ts("ts", ts_type))),
        subject=subject,
        json_fields=json_fields,
    )


def windowed_message_counts(
    stream_df: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window per-subject counts with late-data watermark — the
    stateful rollup the reference's roadmap gestures at."""
    return (
        stream_df.withWatermark("ts_nats", watermark)
        .groupBy(F.window("ts_nats", window).alias("win"), F.col("subject"))
        .agg(
            F.count("*").alias("n_msgs"),
            F.max("seq").alias("max_seq"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "subject",
            "n_msgs",
            "max_seq",
        )
    )


#: bound on :func:`run_to_completion`'s wait for its query to drain; a
#: query still running after it is stopped and the call raises
RUN_TIMEOUT_S = 600


def run_to_completion(stream_df: DataFrame, checkpoint_dir: str, mode: str = "append"):
    """Drain all currently-available input through a memory sink
    (trigger=availableNow) and return the collected rows. Test/utility
    harness for the streaming path. Raises ``TimeoutError`` (after stopping
    the query) if the drain takes longer than ``RUN_TIMEOUT_S``."""
    import uuid

    name = "sink_" + uuid.uuid4().hex[:8]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_drain(q, "run_to_completion")
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def _await_drain(q, caller: str) -> None:
    """Wait at most ``RUN_TIMEOUT_S`` for ``q`` to finish; past it, stop the
    query and raise ``TimeoutError``."""
    if not q.awaitTermination(RUN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"{caller}: query {q.name or q.id} still running after {RUN_TIMEOUT_S}s")


def continuous_rollup_sink(
    windowed_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_col: str = "window_start",
    key_cols: tuple[str, ...] = ("subject",),
):
    """Continuous-aggregate maintenance (the hypertable-rollup pattern):
    keep a queryable partitioned parquet table of windowed aggregates in
    sync with the stream.

    Update output mode re-emits a group's row every time late data lands in
    it; each micro-batch therefore *dynamically overwrites* exactly the
    partitions it touched — newer values replace older ones, and a replayed
    batch rewrites identical partitions, so the table is correct under both
    late data and at-least-once redelivery. The overwrite granularity MUST
    be the full grouping key (window + ``key_cols``), not just the window:
    update mode only re-emits changed keys, and overwriting a whole window
    partition would silently drop that window's unchanged keys. At scale
    this is one small file per touched group per batch, never a table
    rewrite. Timestamps are written as INT64 ``TIMESTAMP_MICROS`` (see
    ``sinks``).

    One invocation runs one micro-batch per batch of new files, and each
    batch's plan runs once: the query starts with
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` (scoped to the
    ``start()`` call, which clones the session conf), so ``availableNow``
    starts no batch without new input. Consequences:

    - late rows are judged against the watermark the previous data batch
      ran with, so the watermark one data batch moves drops late rows from
      the data batch after next;
    - expired state, and any rows a custom stateful input emits on
      event-time timeouts, are handled by the next invocation's data
      batch, in its own commit — an invocation with no new file runs no
      batch at all;
    - a batch whose update is empty (every row behind the watermark)
      overwrites no partition, so it writes nothing.
    """

    if "__p" in windowed_df.columns:
        # withColumn would silently REPLACE the user's column with the
        # derived partition key and read_rollup would then drop it — the
        # one collision the reserved internal name can't dodge fails loud
        raise ValueError(
            "continuous_rollup_sink: '__p' is a reserved internal column; "
            "alias it before sinking"
        )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        with _prunable_timestamps(batch_df.sparkSession):
            (
                batch_df.withColumn("__p", F.col(partition_col).cast("long"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__p", *key_cols)
                .parquet(out_dir)
            )

    writer = (
        windowed_df.writeStream.foreachBatch(_write)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    with scoped_conf(
        windowed_df.sparkSession, "spark.sql.streaming.noDataMicroBatches.enabled", "false"
    ):
        return writer.start()


def read_rollup(spark, out_dir: str) -> DataFrame:
    """Read a :func:`continuous_rollup_sink` table (the derived ``__p``
    partition key dropped; ``key_cols`` read back from partition dirs).

    Key columns read back as STRINGS, exactly as written into the directory
    names: partition-type inference is off for the read, because it would
    turn a string key ``007`` into the int 7."""
    with scoped_conf(spark, "spark.sql.sources.partitionColumnTypeInference.enabled", "false"):
        return spark.read.parquet(out_dir).drop("__p")


def parquet_sink(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Continuous parquet export — the streaming analogue of the reference's
    COPY TO parquet (ref:docs/EXAMPLES.md:225-233). Drains the input
    available now and returns the finished query; like
    :func:`run_to_completion`, it stops the query and raises
    ``TimeoutError`` after ``RUN_TIMEOUT_S``.

    Timestamps are written as INT64 ``TIMESTAMP_MICROS`` (see ``sinks``).
    Spark's file sink reads the encoding from the session it was started
    from, when each batch writes — not from the stream's cloned session —
    so the conf stays pinned until the drain ends."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    with _prunable_timestamps(stream_df.sparkSession):
        q = writer.start()
        _await_drain(q, "parquet_sink")
    return q
