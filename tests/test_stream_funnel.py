"""Streaming stateful funnel must agree with the batch fold operator on the
same log — melted stage rows vs (user, t1..tk) columns, bit-for-bit."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F, types as T

from duckdb_nats_jetstream_spark.operators.funnel import funnel_user_stages
from duckdb_nats_jetstream_spark.tables import read_table
from duckdb_nats_jetstream_spark.streaming.funnel import streaming_funnel

STAGES = ["view", "click", "purchase"]


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory, sf_dir):
    d = tmp_path_factory.mktemp("funnel_log")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    return str(d)


def pin_chunk_mtimes(d: str) -> None:
    """Give each *.parquet chunk in ``d`` a distinct, increasing mtime (in
    name order). Spark's file stream source orders files by modification
    time; same-second writes tie and can replay chunks out of order —
    an observed flake in every replay-log harness. A chunk may be a flat
    file OR a Spark-written ``*.parquet`` DIRECTORY; for directories the
    pin must land on the PART FILES inside (the source lists leaves, so
    utime on the directory itself is a silent no-op — and part files
    within one chunk share its mtime, which is why chunk writers should
    also coalesce(1))."""
    k = 0
    for f in sorted(os.listdir(d)):
        if not f.endswith(".parquet"):
            continue
        path = os.path.join(d, f)
        mt = (1_700_000_000 + k * 10,) * 2
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                for leaf in files:
                    os.utime(os.path.join(root, leaf), mt)
        else:
            os.utime(path, mt)
        k += 1


def _events_schema(spark, log_dir):
    return spark.read.parquet(log_dir).schema


def test_streaming_funnel_matches_batch(spark, sf_dir, log_dir, tmp_path):
    # raw-schema streaming read of the same events parquet (ns ts comes back
    # as long under nanosAsLong on some sessions — normalize to timestamp)
    raw = spark.read.parquet(log_dir)
    stream = spark.readStream.schema(raw.schema).parquet(log_dir)
    if isinstance(raw.schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    out = streaming_funnel(stream, STAGES)
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM funnel_stream").collect()
    assert got, "streaming funnel emitted nothing"
    got_map: dict[int, dict[int, int]] = {}
    for r in got:
        got_map.setdefault(r.user_id, {})[r.stage_no] = r.ts

    batch = funnel_user_stages(read_table(spark, sf_dir, "events"), STAGES)
    want = batch.select(
        "user_id",
        F.expr("unix_micros(CAST(t1 AS TIMESTAMP))").alias("t1"),
        F.expr("unix_micros(CAST(t2 AS TIMESTAMP))").alias("t2"),
        F.expr("unix_micros(CAST(t3 AS TIMESTAMP))").alias("t3"),
    ).collect()
    for r in want:
        g = got_map.get(r.user_id, {})
        assert g.get(1) == r.t1, (r.user_id, g.get(1), r.t1)
        assert g.get(2) == r.t2, (r.user_id, g.get(2), r.t2)
        assert g.get(3) == r.t3, (r.user_id, g.get(3), r.t3)
    # no phantom users
    assert set(got_map) == {r.user_id for r in want if r.t1 is not None}


def test_streaming_funnel_state_is_two_scalars(spark, tmp_path):
    """Replay a tiny ordered log in TWO micro-batches; the machine must not
    rewind (a purchase arriving before the click stage is ignored) and must
    continue across the batch boundary from its two-scalar state."""
    import datetime as dt

    d1, d2 = tmp_path / "log", tmp_path / "log2"
    d1.mkdir()
    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    batch1 = spark.createDataFrame(
        [(1, t(1), "view"), (1, t(2), "purchase")],  # purchase too early
        "user_id long, ts timestamp, event_type string",
    )
    batch1.write.parquet(str(d1 / "b1.parquet"))
    sink = str(tmp_path / "out")

    def run_once():
        q = (
            streaming_funnel(
                spark.readStream.schema(batch1.schema).parquet(str(d1) + "/*"),
                STAGES,
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    run_once()
    # second batch: the click arrives, then a purchase in order
    spark.createDataFrame(
        [(1, t(3), "click"), (1, t(4), "purchase")], batch1.schema
    ).write.parquet(str(d1 / "b2.parquet"))
    run_once()
    out_rows = spark.read.parquet(sink).collect()
    rows = {(r.stage_no, r.stage) for r in out_rows}
    assert (1, "view") in rows and (2, "click") in rows and (3, "purchase") in rows
    # the too-early purchase must NOT have advanced stage 3 at t(2)
    t2_us = int(t(2).timestamp() * 1_000_000)
    assert all(not (r.stage_no == 3 and r.ts == t2_us) for r in out_rows)


def test_streaming_funnel_idle_timeout_evicts_and_restarts(spark, tmp_path):
    """Event-time TTL (SCALING.md batch 9 follow-up): users idle past the
    horizon drop from the state store, and a returning evicted user
    restarts from stage 0 — the documented trade. Four hourly chunks:
    user 1 is active only in hour 0; with a 45-minute TTL the hour-2
    batch's watermark (= hour-1 max event time) passes user 1's deadline,
    so they are evicted there (timeouts fire only for keys WITHOUT data
    in the batch), and their hour-3 'click' finds a fresh stage-0 machine
    it cannot advance."""
    import datetime as dt

    d = tmp_path / "log"
    d.mkdir()
    schema = "user_id long, ts timestamp, event_type string"
    t = lambda h, s: dt.datetime(2026, 1, 1, h, 0, s)
    chunks = [
        [(1, t(0, 1), "view"), (2, t(0, 2), "view")],
        [(2, t(1, 1), "click")],
        [(2, t(2, 2), "purchase")],
        # hour 3: user 1 returns with the stage-2 event type only
        [(1, t(3, 1), "click")],
    ]
    for i, rows in enumerate(chunks):
        cdir = d / f"c{i}.parquet"
        # coalesce(1): one part file per chunk. Multiple part files share
        # the chunk's pinned mtime, and a TIE lets the file source batch
        # the chunk's rows in either order under maxFilesPerTrigger=1 —
        # with a 0-second watermark the lower-ts row then arrives behind
        # the watermark and is dropped as late (observed flake: user 1's
        # h0 view vanished entirely).
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(cdir))
    # the file source processes files in modification-time order;
    # same-second writes tie and can reorder the chunks (observed flake)
    pin_chunk_mtimes(str(d))

    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(d) + "/*").schema
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d) + "/*")
    )
    out = streaming_funnel(stream, STAGES, idle_timeout="45 minutes", watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_ttl")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow drain did not terminate"
    rows = spark.sql("SELECT * FROM funnel_ttl").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, set()).add(r.stage_no)
    # user 2 stayed active: full funnel across batches
    assert by_user[2] == {1, 2, 3}
    # user 1 was evicted during the idle hour; the returning 'click' finds
    # a fresh stage-0 machine and cannot advance it — only stage 1 from h0
    assert by_user[1] == {1}
    # eviction actually happened in the state store
    removed = sum(
        (p["stateOperators"][0]["numRowsRemoved"] if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    assert removed >= 1


def test_streaming_funnel_ttl_timers_survive_checkpoint_resume(spark, tmp_path):
    """The eviction deadline lives in Spark's timer state — it must
    survive a checkpoint stop/restart: user 1 goes idle before the stop,
    the RESUMED query's watermark passes their deadline and must still
    evict, and their later return must still restart at stage 0 (same
    semantics as the uninterrupted drain in the test above)."""
    import datetime as dt

    d = tmp_path / "log"
    d.mkdir()
    schema = "user_id long, ts timestamp, event_type string"
    t = lambda h, s: dt.datetime(2026, 1, 1, h, 0, s)
    first = [
        [(1, t(0, 1), "view"), (2, t(0, 2), "view")],
        [(2, t(1, 1), "click")],
    ]
    second = [
        [(2, t(2, 2), "purchase")],
        [(1, t(3, 1), "click")],
    ]

    def write(chunks, start):
        for i, rows in enumerate(chunks, start=start):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                str(d / f"c{i}.parquet")
            )
        pin_chunk_mtimes(str(d))

    sink = str(tmp_path / "out")

    def drain():
        stream = (
            spark.readStream.schema(spark.read.parquet(str(d) + "/*").schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(d) + "/*")
        )
        out = streaming_funnel(
            stream, STAGES, idle_timeout="45 minutes", watermark="0 seconds"
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return q

    write(first, 0)
    drain()
    write(second, 2)
    q2 = drain()

    rows = spark.read.parquet(sink).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, set()).add(r.stage_no)
    assert by_user[2] == {1, 2, 3}  # active across the restart
    # user 1's deadline was armed BEFORE the stop and fired AFTER it
    assert by_user[1] == {1}
    removed = sum(
        (p["stateOperators"][0]["numRowsRemoved"] if p["stateOperators"] else 0)
        for p in q2.recentProgress
    )
    assert removed >= 1
