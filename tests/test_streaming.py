"""Structured Streaming path: the streaming message scan must agree with the
batch scan on the same log; windowed rollups and checkpointed resume work."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from duckdb_nats_jetstream_spark.sources import message_scan
from duckdb_nats_jetstream_spark.streaming.stream_scan import (
    message_stream,
    parquet_sink,
    run_to_completion,
    windowed_message_counts,
)


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory, sf_dir):
    d = tmp_path_factory.mktemp("stream_log")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_empty_log_dir_requires_explicit_ts_type(spark, tmp_path):
    """Tailing a not-yet-written directory must not GUESS the ts flavor
    (r09 review: the silent LongType guess made the first real micro-batch
    fail with a parquet conversion error on timestamp-flavored files) —
    it raises with the remedy, and the explicit ts_type override builds."""
    from pyspark.sql import types as T

    empty = tmp_path / "empty_log"
    empty.mkdir()
    with pytest.raises(ValueError, match="ts_type"):
        message_stream(spark, str(empty))
    df = message_stream(spark, str(empty), ts_type=T.TimestampNTZType())
    assert df.isStreaming and "ts_nats" in df.columns


def test_stream_matches_batch(spark, sf_dir, log_dir, tmp_path):
    stream = message_stream(spark, log_dir)
    got = run_to_completion(stream, str(tmp_path / "ckpt")).collect()
    want = message_scan(spark, sf_dir).collect()
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in want)


def test_int96_log_stream_matches_batch(spark, tmp_path):
    """An INT96 ``ts`` (pyarrow reports it as ``timestamp[ns]``) is read by
    Spark as TIMESTAMP, not as ns-as-long: the stream must declare it so,
    or its first micro-batch fails with a parquet type mismatch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log = tmp_path / "int96_log"
    log.mkdir()
    n = 3
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([1_704_067_200_000_000 + 7 * i for i in range(n)], pa.timestamp("us")),
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["view", "click", "view"]),
            "value": pa.array([1.5, 2.0, None]),
            "props": pa.array(['{"k": 1}', "{}", None]),
        }),
        log / "events.parquet",
        use_deprecated_int96_timestamps=True,
    )
    got = run_to_completion(message_stream(spark, str(log)), str(tmp_path / "ckpt")).collect()
    want = message_scan(spark, str(log)).collect()
    assert len(want) == n
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in want)


def test_windowed_counts_with_watermark(spark, sf_dir, log_dir, tmp_path):
    stream = message_stream(spark, log_dir)
    agg = windowed_message_counts(stream, window="6 hours", watermark="1 hour")
    got = run_to_completion(agg, str(tmp_path / "ckpt2")).collect()
    assert got, "windowed aggregation produced no rows"
    # cross-check one window's count against the batch engine
    batch = message_scan(spark, sf_dir, payload_binary=False)
    w0 = got[0]
    n = batch.filter(
        (F.col("ts_nats") >= w0.window_start)
        & (F.col("ts_nats") < w0.window_end)
        & (F.col("subject") == w0.subject)
    ).count()
    assert n == w0.n_msgs


def test_streaming_json_extract_and_subject_filter(spark, log_dir, tmp_path):
    stream = message_stream(spark, log_dir, subject="purchase", json_fields=["k"])
    got = run_to_completion(stream, str(tmp_path / "ckpt3")).collect()
    assert got
    assert all("purchase" in r.subject for r in got)
    assert all(r.k is None or r.k.isdigit() for r in got)


def test_json_field_shadowing_a_base_column_is_bind_error(spark, sf_dir, log_dir):
    """Both scans reject, at build, a field whose output column already
    exists, instead of emitting two ``seq`` columns that fail later with an
    ambiguous reference."""
    from duckdb_nats_jetstream_spark.errors import BindError

    with pytest.raises(BindError, match="collide"):
        message_scan(spark, sf_dir, json_fields=["seq"])
    with pytest.raises(BindError, match="collide"):
        message_stream(spark, log_dir, json_fields=["seq"])


def test_streaming_typed_extract_matches_batch(spark, sf_dir, log_dir, tmp_path):
    """The JVM typed-extraction path composes unchanged on the stream:
    from_json struct + projection over readStream equals the batch plan."""
    from pyspark.sql import types as T

    from duckdb_nats_jetstream_spark.functions.typed_extract import (
        parse_json_payload,
        typed_extract,
    )

    schema = T.StructType([T.StructField("k", T.LongType())])
    stream = typed_extract(
        parse_json_payload(message_stream(spark, log_dir), schema), ["k"]
    ).select("seq", "k")
    got = run_to_completion(stream, str(tmp_path / "ckpt_te")).collect()
    want = typed_extract(
        parse_json_payload(
            message_scan(spark, sf_dir, payload_binary=False), schema
        ),
        ["k"],
    ).select("seq", "k").collect()
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in want)


def test_checkpoint_resume_no_duplicates(spark, sf_dir, log_dir, tmp_path):
    """Durable-consumer semantics: a second run over the same checkpoint
    re-reads nothing (ref roadmap: checkpoint management, GUIDE.md:461-465)."""
    ckpt = str(tmp_path / "ckpt4")
    out = str(tmp_path / "out")
    q = parquet_sink(message_stream(spark, log_dir), out, ckpt)
    q.awaitTermination()
    n1 = spark.read.parquet(out).count()
    q2 = parquet_sink(message_stream(spark, log_dir), out, ckpt)
    q2.awaitTermination()
    n2 = spark.read.parquet(out).count()
    assert n1 > 0 and n2 == n1  # nothing re-emitted on resume


def test_run_to_completion_wait_is_bounded(spark, log_dir, tmp_path, monkeypatch):
    """A drain that outlives ``RUN_TIMEOUT_S`` is stopped and raises,
    instead of blocking its caller forever."""
    import time

    from duckdb_nats_jetstream_spark.streaming import stream_scan

    def slow(batches):
        for b in batches:
            time.sleep(30)
            yield b

    stream = message_stream(spark, log_dir)
    monkeypatch.setattr(stream_scan, "RUN_TIMEOUT_S", 2)
    t0 = time.perf_counter()
    with pytest.raises(TimeoutError, match="2s"):
        run_to_completion(stream.mapInPandas(slow, stream.schema), str(tmp_path / "ck"))
    assert time.perf_counter() - t0 < 25  # stopped, not drained
    # run_to_completion names its memory sinks sink_<hex>
    assert not [q for q in spark.streams.active if (q.name or "").startswith("sink_")]
