"""Continuous-aggregate sink: the maintained parquet rollup must equal the
batch windowed aggregate, stay correct across a full replay (fresh
checkpoint, same output dir), and keep every key of a partially-updated
window (the update-mode overwrite-granularity trap). One invocation runs
one micro-batch per batch of new files, and leaves the session conf as it
found it."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from duckdb_nats_jetstream_spark.sources import message_scan
from duckdb_nats_jetstream_spark.streaming.stream_scan import (
    continuous_rollup_sink,
    message_stream,
    read_rollup,
    windowed_message_counts,
)


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory, sf_dir):
    d = tmp_path_factory.mktemp("rollup_log")
    shutil.copy(f"{sf_dir}/events.parquet", d / "a.parquet")
    return str(d)


def _drain(spark, log_dir, out_dir, ck_dir):
    q = continuous_rollup_sink(
        windowed_message_counts(message_stream(spark, log_dir)),
        out_dir=out_dir,
        checkpoint_dir=ck_dir,
    )
    q.awaitTermination()
    return q


def _table(spark, out_dir):
    return {
        (r.window_start, r.subject): (r.n_msgs, r.max_seq)
        for r in read_rollup(spark, out_dir).collect()
    }


def test_rollup_matches_batch_and_survives_replay(spark, sf_dir, log_dir, tmp_path):
    out = str(tmp_path / "rollup")
    _drain(spark, log_dir, out, str(tmp_path / "ck1"))
    got = _table(spark, out)

    batch = {
        (r.window_start, r.subject): (r.n_msgs, r.max_seq)
        for r in message_scan(spark, sf_dir)
        .groupBy(F.window("ts_nats", "1 hour").alias("win"), "subject")
        .agg(F.count("*").alias("n_msgs"), F.max("seq").alias("max_seq"))
        .select(
            F.col("win.start").alias("window_start"), "subject", "n_msgs", "max_seq"
        )
        .collect()
    }
    assert got == batch

    # full replay into the same table (fresh checkpoint): identical result,
    # no duplicates — partitions are rewritten, not appended
    _drain(spark, log_dir, out, str(tmp_path / "ck2"))
    assert _table(spark, out) == batch


def test_partial_update_keeps_other_keys_in_window(spark, tmp_path):
    # two subjects in one window, then late data for only one of them:
    # the untouched subject's row must survive the second batch's overwrite
    out = str(tmp_path / "rollup")
    log = tmp_path / "log"
    log.mkdir()
    raw = "event_id long, ts long, user_id long, event_type string, value double, props string"

    def write_batch(rows):
        spark.createDataFrame(rows, raw).coalesce(1).write.mode("append").parquet(
            str(log)
        )

    import datetime as dt

    t_ns = int(dt.datetime(2026, 1, 1, 0, 10).timestamp() * 1e9)
    # subjects differ via event_type/user: events.click.u1 vs events.view.u2
    write_batch(
        [(0, t_ns, 1, "click", 1.0, "{}"), (1, t_ns, 2, "view", 1.0, "{}")]
    )
    ck = str(tmp_path / "ck")
    _drain(spark, str(log), out, ck)
    write_batch([(2, t_ns, 1, "click", 1.0, "{}")])
    _drain(spark, str(log), out, ck)

    got = _table(spark, out)
    win = dt.datetime(2026, 1, 1, 0, 0)
    assert got == {
        (win, "events.click.u1"): (2, 3),
        (win, "events.view.u2"): (1, 2),
    }


def test_rollup_sink_reserved_partition_name_rejected(spark):
    """The derived partition key is the internal '__p'; an input column of
    that name would be silently clobbered and then dropped on read — the
    sink refuses it at definition time (r10 review; a user column named
    plain 'p' now survives the roundtrip instead)."""
    import pytest

    from pyspark.sql import functions as F

    df = spark.range(1).select(F.col("id").alias("__p"))
    with pytest.raises(ValueError, match="__p"):
        continuous_rollup_sink(df, "/tmp/x", "/tmp/ck")


_RAW = "event_id long, ts long, user_id long, event_type string, value double, props string"
_NO_DATA_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"


def _ns(hour: int, minute: int) -> int:
    """Epoch ns of 2026-01-01 ``hour``:``minute`` UTC."""
    t = dt.datetime(2026, 1, 1, hour, minute, tzinfo=dt.timezone.utc)
    return int(t.timestamp()) * 10**9


def _land(spark, log, rows):
    """One new parquet file of ``rows`` in the log directory."""
    spark.createDataFrame(rows, _RAW).coalesce(1).write.mode("append").parquet(str(log))


def _listing(out_dir):
    """``path -> (size, mtime_ns)`` of every file under the table."""
    out = {}
    for d, _, files in os.walk(out_dir):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def test_one_new_file_runs_one_micro_batch(spark, log_dir, tmp_path):
    """No eviction-only batch after the data batch: availableNow starts a
    batch only for new input."""
    q = _drain(spark, log_dir, str(tmp_path / "rollup"), str(tmp_path / "ck"))
    progress = q.recentProgress
    assert len(progress) == 1, [p["numInputRows"] for p in progress]
    assert progress[0]["numInputRows"] > 0


def test_no_new_file_terminates_and_writes_nothing(spark, tmp_path):
    log, out, ck = tmp_path / "log", str(tmp_path / "rollup"), str(tmp_path / "ck")
    _land(spark, log, [(0, _ns(5, 10), 1, "click", 1.0, "{}")])
    _drain(spark, str(log), out, ck)
    before = _listing(out)
    assert before
    q = continuous_rollup_sink(
        windowed_message_counts(message_stream(spark, str(log))), out, ck
    )
    assert q.awaitTermination(120), "an invocation with no new file kept running"
    # at most an idle trigger report: no batch was planned or written
    assert all("addBatch" not in p["durationMs"] for p in q.recentProgress)
    assert _listing(out) == before


def test_all_late_file_writes_nothing(spark, tmp_path):
    """A batch whose every row is behind the watermark emits an empty
    update: the table's files stay exactly as they were. Late rows are
    judged against the previous data batch's watermark, so the watermark
    the first batch sets drops rows from the third."""
    log, out, ck = tmp_path / "log", str(tmp_path / "rollup"), str(tmp_path / "ck")
    _land(spark, log, [(0, _ns(10, 10), 1, "click", 1.0, "{}")])
    _drain(spark, str(log), out, ck)  # watermark -> 08:10
    _land(spark, log, [(1, _ns(10, 20), 1, "click", 1.0, "{}")])
    _drain(spark, str(log), out, ck)  # runs with watermark 08:10
    before = _listing(out)
    _land(spark, log, [(2, _ns(0, 10), 2, "view", 1.0, "{}")])  # window ends 01:00
    q = _drain(spark, str(log), out, ck)
    assert [p["numInputRows"] for p in q.recentProgress] == [1]
    assert _listing(out) == before


def test_expired_state_evicted_one_invocation_later(spark, tmp_path):
    """The data batch that moves the watermark past a window's end does not
    evict it (a batch's watermark advances after it); the next invocation's
    data batch does, in its own commit."""
    log, out, ck = tmp_path / "log", str(tmp_path / "rollup"), str(tmp_path / "ck")
    _land(spark, log, [(0, _ns(0, 10), 1, "click", 1.0, "{}"),
                       (1, _ns(0, 20), 2, "view", 1.0, "{}")])
    _drain(spark, str(log), out, ck)
    _land(spark, log, [(2, _ns(5, 10), 1, "click", 1.0, "{}")])  # watermark -> 03:10
    q = _drain(spark, str(log), out, ck)
    assert q.recentProgress[-1]["stateOperators"][0]["numRowsTotal"] == 3
    _land(spark, log, [(3, _ns(5, 20), 3, "view", 1.0, "{}")])
    q = _drain(spark, str(log), out, ck)
    # only the 05:00 window's two groups remain; 00:00's were evicted
    assert q.recentProgress[-1]["stateOperators"][0]["numRowsTotal"] == 2
    # eviction emits nothing in update mode: the table keeps every group
    assert len(_table(spark, out)) == 4


@pytest.mark.parametrize(
    "prior, start_raises",
    [(None, False), ("true", False), (None, True)],
    ids=["unset", "true", "start-raises"],
)
def test_no_data_conf_restored(spark, log_dir, tmp_path, prior, start_raises):
    if prior is not None:
        spark.conf.set(_NO_DATA_CONF, prior)
    try:
        windowed = windowed_message_counts(message_stream(spark, log_dir))
        if start_raises:
            # sorting an update-mode aggregation is rejected by start()
            with pytest.raises(Exception, match="(?i)sort"):
                continuous_rollup_sink(
                    windowed.orderBy("n_msgs"), str(tmp_path / "out"), str(tmp_path / "ck")
                )
        else:
            continuous_rollup_sink(
                windowed, str(tmp_path / "out"), str(tmp_path / "ck")
            ).awaitTermination()
        assert spark.conf.get(_NO_DATA_CONF, None) == prior
    finally:
        spark.conf.unset(_NO_DATA_CONF)


def test_read_rollup_keeps_string_keys(spark, tmp_path):
    """A zero-padded string key must not come back as an inferred int."""
    log, out = tmp_path / "log", str(tmp_path / "rollup")
    _land(spark, log, [(6, _ns(0, 10), 1, "click", 1.0, "{}"),
                       (11, _ns(0, 20), 1, "click", 1.0, "{}")])
    padded = message_stream(spark, str(log)).withColumn(
        "subject", F.format_string("%03d", F.col("seq"))
    )
    continuous_rollup_sink(
        windowed_message_counts(padded), out, str(tmp_path / "ck")
    ).awaitTermination()
    rows = read_rollup(spark, out).select("subject", "n_msgs").collect()
    assert sorted((r.subject, r.n_msgs) for r in rows) == [("007", 1), ("012", 1)]
