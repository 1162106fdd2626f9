"""Sink surface: partitioned export layout, small-file discipline, and the
replay-safe streaming appender."""

import os

import pytest
from pyspark.sql import functions as F

from duckdb_nats_jetstream_spark import sinks
from duckdb_nats_jetstream_spark.errors import BindError
from duckdb_nats_jetstream_spark.tables import read_table

from conftest import SF_DIR


def test_partitioned_write_layout_and_roundtrip(spark, tmp_path):
    out = str(tmp_path / "part_out")
    docs = read_table(spark, SF_DIR, "documents")
    sinks.write_partitioned_parquet(docs, out, ["lang"])

    langs = {d for d in os.listdir(out) if d.startswith("lang=")}
    assert len(langs) > 1
    # one task per partition value → exactly one data file per partition dir
    for d in langs:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    a = sorted(r.doc_id for r in back.select("doc_id").collect())
    b = sorted(r.doc_id for r in docs.select("doc_id").collect())
    assert a == b


def test_partitioned_write_validates_columns(spark, tmp_path):
    docs = read_table(spark, SF_DIR, "documents")
    with pytest.raises(BindError):
        sinks.write_partitioned_parquet(docs, str(tmp_path / "x"), ["nope"])
    with pytest.raises(BindError):
        sinks.write_partitioned_parquet(docs, str(tmp_path / "x"), [])


def test_partitioned_write_salted_fanout(spark, tmp_path):
    out = str(tmp_path / "salted")
    docs = read_table(spark, SF_DIR, "documents")
    # at fixture scale AQE would re-coalesce the tiny salted partitions into
    # one file again (correct behavior — the salt matters when a partition
    # value is big); disable coalescing here to observe the fanout mechanics
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        sinks.write_partitioned_parquet(docs, out, ["lang"], files_per_partition=3)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # at least one partition dir fans out to >1 file
    fanout = 0
    for d in os.listdir(out):
        if d.startswith("lang="):
            n = len([f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")])
            fanout = max(fanout, n)
    assert fanout > 1


def test_idempotent_streaming_sink_replay_safe(spark, tmp_path):
    import shutil

    from duckdb_nats_jetstream_spark.streaming.stream_scan import message_stream

    log = tmp_path / "log"
    log.mkdir()
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), log / "a.parquet")

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = sinks.idempotent_parquet_sink(message_stream(spark, str(log)), out, ckpt)
    q.awaitTermination()
    n1 = sinks.read_batched_parquet(spark, out).count()
    assert n1 > 0

    # restart against the same checkpoint: no new input → no new rows, and
    # re-running must not duplicate what's already on disk
    q2 = sinks.idempotent_parquet_sink(message_stream(spark, str(log)), out, ckpt)
    q2.awaitTermination()
    assert sinks.read_batched_parquet(spark, out).count() == n1


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    from duckdb_nats_jetstream_spark.sinks import compact_parquet

    src = str(tmp_path / "fragmented")
    # 40 tiny files
    spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(40).write.parquet(src)
    dst = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, dst, target_file_bytes=64 * 1024 * 1024)
    out = spark.read.parquet(dst)
    import glob

    n_out = len(glob.glob(f"{dst}/part-*.parquet"))
    assert n_out <= max(n, 1) < 40
    a = sorted(map(tuple, spark.read.parquet(src).collect()))
    b = sorted(map(tuple, out.collect()))
    assert a == b  # lossless rewrite


def test_ann_index_sink_partition_pruned_probe(spark, sf_dir, tmp_path):
    """write_ann_index lays the corpus out cluster-partitioned; a probe
    filtered to n_probe clusters must read only those directories
    (partition pruning visible via inputFiles), and the unfiltered
    read must round-trip every vector with its assignment."""
    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann_index")
    centroids = sinks.write_ann_index(emb, path, n_clusters=8)
    assert len(centroids) == 8 and len(centroids[0]) == 64

    back = spark.read.parquet(path)
    assert back.count() == emb.count()
    clusters = sorted(r.cluster for r in back.select("cluster").distinct().collect())
    assert set(clusters) <= set(range(8))

    probe = back.filter(F.col("cluster").isin(clusters[0], clusters[1]))
    # pruning: the cluster predicate must land in the scan's partition
    # filters (a directory skip — no data read for unprobed clusters)
    from duckdb_nats_jetstream_spark.plans.explain import formatted_plan

    plan = formatted_plan(probe)
    assert "PartitionFilters" in plan and "cluster" in plan.split("PartitionFilters", 1)[1][:200]
    # and the probed row count equals the per-partition sum (sanity)
    per_part = {
        r.cluster: r.n
        for r in back.groupBy("cluster").agg(F.count("*").alias("n")).collect()
    }
    assert probe.count() == per_part[clusters[0]] + per_part[clusters[1]]

    # assignments in the index agree with a fresh assignment pass using the
    # returned codebook (the metadata a prober would load)
    from duckdb_nats_jetstream_spark.operators.similarity import nearest_centroid_udf

    fresh = emb.withColumn(
        "c2", nearest_centroid_udf(centroids)(F.col("embedding").cast("array<double>"))
    ).select("vec_id", "c2")
    mismatch = (
        back.select("vec_id", "cluster").join(fresh, "vec_id")
        .filter(F.col("cluster") != F.col("c2"))
    )
    assert mismatch.count() == 0


def test_ann_index_sink_empty_corpus_raises_cleanly(spark, tmp_path):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(BindError, match="empty corpus"):
        sinks.write_ann_index(empty, str(tmp_path / "idx"), n_clusters=4)


def test_writers_pin_prunable_timestamp_encoding(spark, tmp_path):
    """Sinks must write INT64-µs timestamps, not Spark's INT96 default:
    INT96 carries no usable min/max stats, so time-range scans over the
    written log decode every row group (SCALING.md batch 22 — 100% vs
    1.6% on the same sorted layout). Also: the caller's session conf is
    restored after the write."""
    import pyarrow.parquet as pq

    conf_key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf_key)
    assert prev == "INT96"  # the Spark default this test exists to dodge

    df = spark.range(100).select(
        (F.col("id") % 3).alias("part"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
    )
    out = str(tmp_path / "tsenc")
    sinks.write_partitioned_parquet(df, out, ["part"])

    files = [
        os.path.join(root, leaf)
        for root, _, leaves in os.walk(out)
        for leaf in leaves
        if leaf.endswith(".parquet")
    ]
    assert files
    md = pq.ParquetFile(files[0]).metadata
    phys = {
        md.schema.column(i).name: md.schema.column(i).physical_type
        for i in range(md.num_columns)
    }
    assert phys["ts"] == "INT64", phys  # INT96 would defeat pruning
    # a written-INT64 ts column must carry row-group statistics
    ts_idx = list(phys).index("ts")
    assert md.row_group(0).column(ts_idx).statistics is not None
    assert spark.conf.get(conf_key) == prev  # restored, not leaked


def test_prunable_timestamps_reentrant_restore(spark):
    """Overlapping sink writes share one session conf: the OUTERMOST exit
    restores the caller's value — a naive per-entry save/restore would
    capture the other writer's pinned value and clobber the session."""
    conf_key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf_key)
    with sinks._prunable_timestamps(spark):
        assert spark.conf.get(conf_key) == "TIMESTAMP_MICROS"
        with sinks._prunable_timestamps(spark):  # overlapping writer
            assert spark.conf.get(conf_key) == "TIMESTAMP_MICROS"
        # inner exit must NOT restore yet
        assert spark.conf.get(conf_key) == "TIMESTAMP_MICROS"
    assert spark.conf.get(conf_key) == prev


def test_scoped_conf_threads_and_conflict(spark):
    """Overlapping scopes from more threads than cores: every body sees the
    scoped value (a premature restore by another thread's exit would break
    it), and the last exit unsets the key that was unset before. A scope
    asking for a different value while one is open raises."""
    import sys
    import threading

    from duckdb_nats_jetstream_spark.session import scoped_conf

    key = "spark.graft.test.scoped"
    seen: list[str | None] = []

    def worker():
        for _ in range(25):
            with scoped_conf(spark, key, "on"):
                seen.append(spark.conf.get(key, None))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert seen == ["on"] * 200
    assert spark.conf.get(key, None) is None

    with scoped_conf(spark, key, "on"):
        with pytest.raises(ValueError, match="already scoped"):
            with scoped_conf(spark, key, "off"):
                pass
        assert spark.conf.get(key, None) == "on"
    assert spark.conf.get(key, None) is None


def _timestamp_encodings(out_dir) -> dict[str, set[tuple[str, str]]]:
    """``column -> {(physical type, time unit)}`` over every written parquet
    file's timestamp columns."""
    import json

    import pyarrow.parquet as pq

    got: dict[str, set[tuple[str, str]]] = {}
    for root, _, leaves in os.walk(out_dir):
        for leaf in leaves:
            if not leaf.endswith(".parquet"):
                continue
            schema = pq.ParquetFile(os.path.join(root, leaf)).schema
            for i in range(len(schema)):
                col = schema.column(i)
                lt = json.loads(col.logical_type.to_json())
                if col.physical_type == "INT96" or lt.get("Type") == "Timestamp":
                    got.setdefault(col.name, set()).add(
                        (col.physical_type, lt.get("timeUnit", ""))
                    )
    return got


@pytest.mark.parametrize("sink", ["continuous_rollup_sink", "parquet_sink"])
def test_streaming_sinks_write_micros_timestamps(spark, tmp_path, sink):
    """The two streaming file sinks pin INT64 ``TIMESTAMP(MICROS)`` like
    every batch writer — the rollup inside its foreachBatch write, the file
    sink for its whole drain, because Spark's file sink reads the encoding
    from the starting session as each batch writes — and leave the
    caller's conf as it was."""
    import shutil

    from duckdb_nats_jetstream_spark.streaming import stream_scan as S

    conf_key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf_key)
    log = tmp_path / "log"
    log.mkdir()
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), log / "a.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = S.message_stream(spark, str(log))
    if sink == "continuous_rollup_sink":
        q = S.continuous_rollup_sink(S.windowed_message_counts(stream), out, ckpt)
        want = {"window_start", "window_end"}
    else:
        q = S.parquet_sink(stream, out, ckpt)
        want = {"ts_nats"}
    q.awaitTermination()
    got = _timestamp_encodings(out)
    assert set(got) == want, got
    assert all(enc == {("INT64", "microseconds")} for enc in got.values()), got
    assert spark.conf.get(conf_key) == prev
