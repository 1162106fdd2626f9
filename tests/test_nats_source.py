"""The nats_jetstream Python DataSource: batch reads through format(), seq
range splits, the fixed five-column schema, streaming tail with checkpointed
offsets, and ``nats_scan``'s extraction composed above the source — all
against the parquet replay transport."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from duckdb_nats_jetstream_spark.errors import BindError
from duckdb_nats_jetstream_spark.sources import message_scan
from duckdb_nats_jetstream_spark.sources.nats_source import (
    NatsScanBatchReader,
    nats_scan,
    register,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def _events(sf_dir):
    return f"{sf_dir}/events.parquet"


def test_batch_read_matches_message_scan(spark, sf_dir):
    df = (
        spark.read.format("nats_jetstream")
        .option("stream", "events")
        .option("replay_path", _events(sf_dir))
        .load()
    )
    want = message_scan(spark, sf_dir).collect()
    got = df.collect()
    assert sorted((r.seq, r.subject, r.ts_nats, bytes(r.payload)) for r in got) == sorted(
        (r.seq, r.subject, r.ts_nats, bytes(r.payload)) for r in want
    )


def test_schema_modes(spark, sf_dir):
    """The source's schema is the five base columns whatever the options;
    JSON mode (string payload plus one string column per field) is
    ``nats_scan``'s, and the extraction options on the bare format name it."""
    plain = (
        spark.read.format("nats_jetstream")
        .option("stream", "events")
        .option("replay_path", _events(sf_dir))
        .option("subject", "purchase")
        .load()
    )
    assert [(f.name, f.dataType) for f in plain.schema] == [
        (f.name, f.dataType) for f in message_scan(spark, sf_dir).schema
    ]
    assert isinstance(plain.schema["payload"].dataType, T.BinaryType)
    js = nats_scan(spark.read, "events", replay_path=_events(sf_dir), json_extract=["k"])
    assert js.columns == ["stream", "subject", "seq", "ts_nats", "payload", "k"]
    assert isinstance(js.schema["payload"].dataType, T.StringType)
    assert isinstance(js.schema["k"].dataType, T.StringType)
    row = js.filter(F.col("seq") == 1).collect()[0]
    assert row.k is not None and row.k.isdigit()
    for opt in ("json_extract", "proto_file", "proto_message", "proto_extract"):
        with pytest.raises(Exception, match="nats_scan"):
            (
                spark.read.format("nats_jetstream")
                .option("stream", "events")
                .option("replay_path", _events(sf_dir))
                .option(opt, "k")
                .load()
            )


def test_seq_range_and_subject_options(spark, sf_dir):
    df = (
        spark.read.format("nats_jetstream")
        .option("stream", "events")
        .option("replay_path", _events(sf_dir))
        .option("start_seq", "10")
        .option("end_seq", "50")
        .option("subject", "purchase")
        .load()
    )
    rows = df.collect()
    assert all(10 <= r.seq <= 50 for r in rows)
    assert all("purchase" in r.subject for r in rows)


def test_partition_splits(spark, sf_dir):
    reader = NatsScanBatchReader(
        {"stream": "events", "replay_path": _events(sf_dir), "partitions": "4"}
    )
    parts = reader.partitions()
    assert len(parts) == 4
    spans = [(p.start_seq, p.end_seq) for p in parts]
    # contiguous, non-overlapping, covering [first, last]
    for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
        assert s2 == e1 + 1
    assert spans[0][0] == 1


def test_missing_stream_option_is_bind_error(spark, sf_dir):
    with pytest.raises(Exception, match="stream"):
        (
            spark.read.format("nats_jetstream")
            .option("replay_path", _events(sf_dir))
            .load()
            .collect()
        )


def test_mixed_range_options_bind_error(spark, sf_dir):
    with pytest.raises(Exception, match="[Cc]annot specify both"):
        (
            spark.read.format("nats_jetstream")
            .option("stream", "events")
            .option("replay_path", _events(sf_dir))
            .option("start_seq", "1")
            .option("end_time", "2024-01-05 00:00:00")
            .load()
            .collect()
        )


def test_live_transport_gated(spark):
    with pytest.raises(BindError, match="nats-py"):
        NatsScanBatchReader({"stream": "s"}).partitions()


def test_streaming_tail(spark, sf_dir, tmp_path):
    stream = (
        spark.readStream.format("nats_jetstream")
        .option("stream", "events")
        .option("replay_path", _events(sf_dir))
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("nats_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) AS n, max(seq) AS m FROM nats_tail").collect()[0]
    want = message_scan(spark, sf_dir).count()
    assert got.n == want and got.m == want


def test_streaming_partitions_fan_out(spark, sf_dir):
    """A catch-up micro-batch over a backlog splits into N sequence slices
    (the parallel-scan upgrade over the reference's single thread) that
    tile the offset range exactly."""
    from duckdb_nats_jetstream_spark.sources.nats_source import (
        NatsScanStreamReader,
    )

    r = NatsScanStreamReader(
        {"stream": "events", "replay_path": _events(sf_dir), "partitions": "8"}
    )
    parts = r.partitions({"seq": 1}, {"seq": 10001})
    assert len(parts) == 8
    assert parts[0].start_seq == 1 and parts[-1].end_seq == 10000
    for a, b in zip(parts, parts[1:]):
        assert b.start_seq == a.end_seq + 1
    # tiny batch never over-splits
    assert len(r.partitions({"seq": 5}, {"seq": 8})) <= 3


def test_proto_extract_options_end_to_end(spark, tmp_path):
    """The reference's proto_file/proto_message/proto_extract parameters
    on ``nats_scan``: a binary-protobuf message log scans into
    natively-typed columns with payload staying BLOB."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_nats_jetstream_spark.functions.proto import (
        encode_message,
        parse_proto,
    )

    proto_text = """
syntax = "proto3";
message Inner { int64 k = 1; }
message Ev {
  int64 eseq = 1; string name = 2; double value = 3;
  repeated int64 vals = 4; Inner inner = 5;
}
"""
    proto_path = tmp_path / "ev.proto"
    proto_path.write_text(proto_text)
    messages, enums = parse_proto(proto_text)
    desc = messages["Ev"]

    payloads = []
    for i in range(20):
        payloads.append(
            encode_message(
                dict(
                    eseq=i + 1,
                    name=f"n{i}",
                    value=i * 1.5,
                    vals=[i, i * 2],
                    inner=dict(k=i * 10) if i % 2 == 0 else None,
                ),
                desc, messages, enums,
            )
        )
    log = tmp_path / "proto_events.parquet"
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(20), pa.int64()),
                "ts": pa.array([1704067200 * 10**9 + i for i in range(20)], pa.timestamp("ns")),
                "user_id": pa.array([i % 3 for i in range(20)], pa.int64()),
                "event_type": pa.array(["p"] * 20, pa.string()),
                "props": pa.array(payloads, pa.binary()),
            }
        ),
        log,
    )

    df = nats_scan(
        spark.read,
        "ev",
        replay_path=str(log),
        proto_file=str(proto_path),
        proto_message="Ev",
        proto_extract=["eseq", "name", "value", "vals", "inner.k"],
    )
    sch = {f.name: f.dataType for f in df.schema.fields}
    assert isinstance(sch["payload"], T.BinaryType)  # BLOB in proto mode
    assert isinstance(sch["value"], T.DoubleType)
    assert isinstance(sch["vals"], T.ArrayType)
    assert isinstance(sch["inner_k"], T.LongType)
    rows = {r.seq: r for r in df.collect()}
    assert len(rows) == 20
    assert all(r.eseq == s for s, r in rows.items())  # extracted == base seq
    assert rows[5].name == "n4" and rows[5].value == 4 * 1.5
    assert rows[5].vals == [4, 8]
    assert rows[5].inner_k == 40          # set nested message
    assert rows[6].inner_k is None        # unset nested message -> NULL
    assert rows[1].vals == [0, 0]         # packed zeros roundtrip


def test_proto_options_bind_matrix(spark, sf_dir, tmp_path):
    proto_path = tmp_path / "m.proto"
    proto_path.write_text('syntax = "proto3"; message M { int64 a = 1; }')

    def scan(**params):
        return nats_scan(spark.read, "events", replay_path=_events(sf_dir), **params)

    with pytest.raises(BindError, match="proto_file parameter is required"):
        scan(proto_extract=["a"])
    with pytest.raises(BindError, match="proto_message parameter is required"):
        scan(proto_extract=["a"], proto_file=str(proto_path))
    with pytest.raises(BindError, match="both json_extract and proto_extract"):
        scan(proto_extract=["a"], proto_file=str(proto_path),
             proto_message="M", json_extract=["k"])
    with pytest.raises(BindError, match="not found"):
        scan(proto_extract=["a"], proto_file=str(proto_path), proto_message="Nope")
    collide = tmp_path / "c.proto"
    collide.write_text('syntax = "proto3"; message M { int64 seq = 1; }')
    with pytest.raises(BindError, match="collide with existing columns"):
        scan(proto_extract=["seq"], proto_file=str(collide), proto_message="M")
    with pytest.raises(BindError, match="duplicate"):
        scan(proto_extract=["a", "a"], proto_file=str(proto_path), proto_message="M")


# --- r10 sweep-5 regressions ---------------------------------------------------


def test_stream_info_locates_event_id_by_name(spark, sf_dir, tmp_path):
    """A ts-first column layout must not be misread as sequence stats —
    stream_info resolves event_id via path_in_schema, not column 0."""
    import duckdb

    from duckdb_nats_jetstream_spark.sources.nats_source import (
        ParquetReplayTransport,
    )

    reordered = str(tmp_path / "events_tsfirst.parquet")
    duckdb.sql(
        f"COPY (SELECT ts, event_type, user_id, props, event_id "
        f"FROM '{_events(sf_dir)}') TO '{reordered}' (FORMAT PARQUET)"
    )
    a = ParquetReplayTransport(_events(sf_dir), "events").stream_info()
    b = ParquetReplayTransport(reordered, "events").stream_info()
    assert a == b
    assert b[1] < 10_000_000  # sequences, not nanosecond timestamps


def test_time_bounds_accept_z_suffix_and_match_naive(spark, sf_dir):
    rows = (
        spark.read.format("nats_jetstream")
        .option("stream", "events")
        .option("replay_path", _events(sf_dir))
        .option("start_time", "2024-01-01T00:00:00")
        .load()
        .count()
    )
    rows_z = (
        spark.read.format("nats_jetstream")
        .option("stream", "events")
        .option("replay_path", _events(sf_dir))
        .option("start_time", "2024-01-01T00:00:00Z")
        .load()
        .count()
    )
    assert rows == rows_z > 0


def test_time_resolution_binary_search_matches_full_filter(spark, sf_dir):
    """The superset sequence bounds from the binary search + read()'s exact
    filter must equal message_scan's time-range semantics."""
    ms = message_scan(
        spark, sf_dir, start_time="2024-01-04T00:00:00", end_time="2024-01-09T00:00:00"
    ).select("seq")
    src = (
        spark.read.format("nats_jetstream")
        .option("stream", "events")
        .option("replay_path", _events(sf_dir))
        .option("start_time", "2024-01-04T00:00:00")
        .option("end_time", "2024-01-09T00:00:00")
        .load()
        .select("seq")
    )
    assert sorted(r.seq for r in ms.collect()) == sorted(r.seq for r in src.collect())


def test_resolve_time_bounds_probe_count_is_logarithmic(sf_dir):
    """The driver-side resolution must probe O(log N) slices, never fetch
    the stream (one round-trip per message on the live transport)."""
    from duckdb_nats_jetstream_spark.sources.nats_source import (
        MESSAGE_BATCH_SCHEMA,
        ParquetReplayTransport,
        _opt_ts_us,
        _resolve_time_bounds,
    )

    inner = ParquetReplayTransport(_events(sf_dir), "events")
    first, last = inner.stream_info()
    calls = []

    class Counting:
        def fetch(self, s, e):
            calls.append((s, e))
            for batch in inner.fetch(s, e):
                assert batch.schema == MESSAGE_BATCH_SCHEMA
                yield batch

    lo = _opt_ts_us("2024-01-04T00:00:00")
    hi = _opt_ts_us("2024-01-09T00:00:00")
    s0, s1 = _resolve_time_bounds(Counting(), first, last, lo, hi)
    n = last - first + 1
    assert first <= s0 <= s1 <= last
    assert len(calls) <= 4 * (n.bit_length() + 1)  # 2 binary searches, small probes
    assert all(e - s < 1 << 17 for s, e in calls)  # never a full-stream fetch


def test_json_extract_base_column_collision_is_bind_error(spark, sf_dir):
    with pytest.raises(BindError, match="collide"):
        nats_scan(spark.read, "events", replay_path=_events(sf_dir), json_extract=["seq"])
    with pytest.raises(BindError, match="duplicate"):
        nats_scan(
            spark.readStream, "events", replay_path=_events(sf_dir),
            json_extract=["a.b", "a_b"],
        )


#: payloads on which a Python ``json`` re-implementation and the JVM
#: ``get_json_object`` disagree, next to plain ones
_EDGE_PAYLOADS = [
    '{"k": {"x": "é"}}',            # non-ASCII inside a nested object
    '{"k": 1, "k": 2}',             # duplicate keys
    '{"k": 1} trailing',            # trailing bytes
    '{"k": NaN}',                   # NaN literal
    '{"k": null, "a": {"b": 5}}',   # JSON null, nested path
    '{"k": "s", "a": {"b": [1, {"c": true}]}}',
    '{"a": 1}',                     # missing key, non-object parent
    'not json',
    '{"k": 42.5, "a": {"b": "ü"}}',
]


def _write_log(path: str, event_ids, props, row_group_size=None, ts=None, **write) -> None:
    """A message log; ``ts`` defaults to ns stamps in January 2024, and
    ``write`` passes parquet writer options (INT96, ...)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(event_ids)
    if ts is None:
        ts = pa.array([1_704_067_200 * 10**9 + i for i in range(n)], pa.timestamp("ns"))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(event_ids, pa.int64()),
                "ts": ts,
                "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
                "event_type": pa.array(["e"] * n),
                "props": pa.array(props),
            }
        ),
        path,
        row_group_size=row_group_size,
        **write,
    )


def _write_edge_log(path: str) -> None:
    _write_log(path, list(range(len(_EDGE_PAYLOADS))), _EDGE_PAYLOADS)


def test_edge_payloads_extract_like_message_scan(spark, tmp_path):
    """One JSON extractor: the source scan and ``message_scan`` give the
    same values for the same log, row for row."""
    _write_edge_log(str(tmp_path / "events.parquet"))
    fields = ["k", "a.b"]
    got = nats_scan(
        spark.read, "events", replay_path=_events(tmp_path), json_extract=fields
    ).collect()
    want = message_scan(spark, str(tmp_path), json_fields=fields).collect()
    assert len(got) == len(_EDGE_PAYLOADS)
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


#: the stored ``ts`` flavours of a log: ``(unit, tz, parquet writer options,
#: epoch ns it holds)`` — a pre-1970 row with a sub-µs part, one on a whole
#: µs, a post-1970 sub-µs one and one past 10^15 ns where the unit holds them
_SUB_US = [-1_500, -1_000, 1_500, 10**15 + 1]
_TS_FLAVOURS = {
    "ns": ("ns", None, {}, _SUB_US),
    "us_naive": ("us", None, {}, [-1_000, 10**15]),
    "us_utc": ("us", "UTC", {}, [-1_000, 10**15]),
    "int96": ("ns", None, {"use_deprecated_int96_timestamps": True}, _SUB_US),
}
#: epoch ns → µs, truncated toward zero
_TRUNC_US = {-1_500: -1, -1_000: -1, 1_500: 1, 10**15: 10**12, 10**15 + 1: 10**12}


def _write_flavour_log(path: str, flavour: str, row_group_size=None) -> list[int]:
    """A log whose ``ts`` is stored in ``flavour``, one message per instant;
    returns the instants' epoch µs, in seq order."""
    import pyarrow as pa

    unit, tz, write, ns = _TS_FLAVOURS[flavour]
    scale = 1 if unit == "ns" else 1000
    ts = pa.array([t // scale for t in ns], pa.timestamp(unit, tz=tz))
    _write_log(path, list(range(len(ns))), ["{}"] * len(ns), row_group_size, ts, **write)
    return [_TRUNC_US[t] for t in ns]


def _unix_micros(df, ts: str, key: str) -> list[int]:
    return [r[0] for r in df.orderBy(key).select(F.unix_micros(ts)).collect()]


@pytest.mark.parametrize("flavour", sorted(_TS_FLAVOURS))
def test_ts_flavours_narrow_alike_in_every_reader(spark, tmp_path, flavour):
    """One ns → µs narrowing: every reader of the log — the table read, the
    batch and streaming scans, and the replay source — truncates toward
    zero, pre-1970 included, whatever flavour stores ``ts``."""
    from duckdb_nats_jetstream_spark.streaming.stream_scan import (
        message_stream,
        run_to_completion,
    )
    from duckdb_nats_jetstream_spark.tables import read_table

    want = _write_flavour_log(str(tmp_path / "events.parquet"), flavour)
    table = read_table(spark, str(tmp_path), "events")
    assert _unix_micros(table, "ts", "event_id") == want
    stream = message_stream(spark, str(tmp_path))
    for df in (
        message_scan(spark, str(tmp_path)),
        run_to_completion(stream, str(tmp_path / "ckpt")),
        nats_scan(spark.read, "events", replay_path=_events(tmp_path)),
    ):
        assert _unix_micros(df, "ts_nats", "seq") == want


#: the reference's post-scan parameters, as ``(subject, field list)``; the
#: bare string has more than one character, so splitting it would show
_SCAN_PARAMETERS = {
    "none": (None, None),
    "subject": ("purchase", None),
    "json_list": (None, ["k"]),
    "json_bare_string": (None, "user"),
}


@pytest.mark.parametrize("case", list(_SCAN_PARAMETERS))
def test_every_scan_gives_one_schema_and_result(spark, sf_dir, tmp_path, case):
    """The batch scan, the stream and the source, read or tailed, apply the
    same parameters alike: one schema (binary payload outside JSON mode, a
    bare string field list is one name) and one set of rows."""
    import os

    from duckdb_nats_jetstream_spark.streaming.stream_scan import (
        message_stream,
        run_to_completion,
    )

    subject, fields = _SCAN_PARAMETERS[case]
    os.symlink(_events(sf_dir), tmp_path / "events.parquet")
    source = dict(replay_path=_events(tmp_path), json_extract=fields)
    if subject is not None:
        source["subject"] = subject
    batch = dict(subject=subject, json_fields=fields)
    scans = {
        "message_scan": message_scan(spark, str(tmp_path), **batch),
        "message_stream": run_to_completion(
            message_stream(spark, str(tmp_path), **batch),
            str(tmp_path / "ckpt_stream"),
        ),
        "nats_scan(read)": nats_scan(spark.read, "events", **source),
        "nats_scan(readStream)": run_to_completion(
            nats_scan(spark.readStream, "events", **source), str(tmp_path / "ckpt_tail")
        ),
    }
    want = scans.pop("message_scan")
    want_rows = sorted(map(tuple, want.collect()), key=lambda r: r[2])
    assert want_rows
    for name, df in scans.items():
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in want.schema
        ], name
        assert sorted(map(tuple, df.collect()), key=lambda r: r[2]) == want_rows, name


def test_registry_import_loads_no_scan_front_end():
    """Building the query registry imports neither the proto codec, the
    streaming scan nor the DataSource: the queries that use them import
    them when they run."""
    import os
    import subprocess
    import sys

    lazy = [
        "duckdb_nats_jetstream_spark.functions.proto",
        "duckdb_nats_jetstream_spark.streaming.stream_scan",
        "duckdb_nats_jetstream_spark.sources.nats_source",
    ]
    code = (
        "import sys\n"
        "from duckdb_nats_jetstream_spark.queries import full_registry\n"
        "full_registry()\n"
        f"print([m for m in {lazy!r} if m in sys.modules])\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[]"


def test_time_bound_on_pre_epoch_sub_micro_row_keeps_it(spark, tmp_path):
    """A bound on the µs that a pre-1970 sub-µs message truncates to selects
    it in both scans, and the replay source's row-group pruning (one row per
    group) keeps its group."""
    _write_flavour_log(str(tmp_path / "events.parquet"), "ns", row_group_size=1)
    at = "1969-12-31T23:59:59.999999"  # -1 µs
    bound = dict(start_time=at, end_time=at)
    got = nats_scan(spark.read, "events", replay_path=_events(tmp_path), **bound)
    want = message_scan(spark, str(tmp_path), **bound)
    assert sorted(r.seq for r in got.collect()) == [1, 2]
    assert sorted(r.seq for r in want.collect()) == [1, 2]


def test_streaming_extraction_matches_batch(spark, tmp_path):
    _write_edge_log(str(tmp_path / "events.parquet"))
    scan = dict(replay_path=_events(tmp_path), json_extract=["k"])
    q = (
        nats_scan(spark.readStream, "events", **scan)
        .writeStream.format("memory")
        .queryName("nats_edge_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("nats_edge_tail").collect()
    want = nats_scan(spark.read, "events", **scan).collect()
    assert len(got) == len(_EDGE_PAYLOADS)
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def _write_shuffled_log(path: str, n: int = 400, rows_per_group: int = 50):
    """An event-TIME log where ts is deliberately NOT monotone in event_id
    (a bit-reversal permutation — maximally disordered), multiple row
    groups so statistics-based resolution actually prunes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base_ns = 1_704_067_200 * 10**9
    bits = (n - 1).bit_length()
    perm = [int(format(i, f"0{bits}b")[::-1], 2) % n for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [base_ns + perm[i] * 60 * 10**9 for i in range(n)],
                    pa.timestamp("ns"),
                ),
                "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
                "event_type": pa.array(["click"] * n),
                "props": pa.array(["{}"] * n),
            }
        ),
        path,
        row_group_size=rows_per_group,
    )


def test_time_bounds_on_non_monotone_replay_log(spark, tmp_path):
    """r10 ADVICE (medium): the binary search assumes ts monotone in seq,
    which holds for live receive timestamps but NOT for replayed event-time
    logs — on out-of-order data it could return a non-superset range and
    read()'s exact filter then silently dropped in-range messages. The
    replay transport now resolves from row-group statistics (order-
    insensitive superset); this pins the end-to-end count against a
    brute-force expectation on a maximally disordered log."""
    import duckdb

    path = str(tmp_path / "shuffled.parquet")
    _write_shuffled_log(path)
    lo, hi = "2024-01-01T01:00:00", "2024-01-01T04:00:00"
    expected = duckdb.sql(
        f"SELECT count(*) FROM '{path}' "
        f"WHERE ts >= TIMESTAMP '{lo.replace('T', ' ')}' "
        f"AND ts <= TIMESTAMP '{hi.replace('T', ' ')}'"
    ).fetchone()[0]
    assert expected > 0
    got = (
        spark.read.format("nats_jetstream")
        .option("stream", "events")
        .option("replay_path", path)
        .option("start_time", lo)
        .option("end_time", hi)
        .load()
        .count()
    )
    assert got == expected


def test_replay_time_resolution_is_probe_free_and_prunes(tmp_path, sf_dir):
    """The replay transport's resolution must read ONLY the footer (the
    binary search reads data for each of its probes — r10 ADVICE #4) and
    must prune row groups on a time-SORTED log."""
    from duckdb_nats_jetstream_spark.sources.nats_source import (
        ParquetReplayTransport,
        _opt_ts_us,
    )

    t = ParquetReplayTransport(_events(sf_dir), "events")
    first, last = t.stream_info()
    t.fetch = None  # any probe fetch would now raise; the footer path won't
    lo = _opt_ts_us("2024-01-04T00:00:00")
    hi = _opt_ts_us("2024-01-09T00:00:00")
    s0, s1 = t.resolve_time_bounds(first, last, lo, hi)
    assert first <= s0 <= s1 <= last

    # multi-row-group sorted log: bounds must exclude far-away groups
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, base_ns = 1000, 1_704_067_200 * 10**9
    path = str(tmp_path / "sorted.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [base_ns + i * 60 * 10**9 for i in range(n)],
                    pa.timestamp("ns"),
                ),
                "user_id": pa.array([0] * n, pa.int64()),
                "event_type": pa.array(["click"] * n),
                "props": pa.array(["{}"] * n),
            }
        ),
        path,
        row_group_size=100,
    )
    ts = ParquetReplayTransport(path, "events")
    f2, l2 = ts.stream_info()
    # minutes 100..199 live entirely inside the second row group
    s0, s1 = ts.resolve_time_bounds(
        f2,
        l2,
        _opt_ts_us("2024-01-01T01:40:00"),
        _opt_ts_us("2024-01-01T03:19:00"),
    )
    assert s0 >= 101 and s1 <= 300  # pruned to the covering groups
    assert s0 <= 101 and s1 >= 200  # still a superset of the true range


def test_replay_time_resolution_includes_statless_groups(tmp_path):
    """A row group whose ts column is ALL NULL carries no min/max
    statistics — the resolver must include its event_id range
    conservatively (its rows are excluded later by read()'s exact filter),
    never prune it; and a file whose event_id stats are missing must widen
    to the full range rather than guess."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_nats_jetstream_spark.sources.nats_source import (
        ParquetReplayTransport,
        _opt_ts_us,
    )

    base_ns = 1_704_067_200 * 10**9
    n = 200
    path = str(tmp_path / "nullgroup.parquet")
    # rows 0..99: real ts; rows 100..199: all-NULL ts (second row group)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [base_ns + i * 10**9 for i in range(100)] + [None] * 100,
                    pa.timestamp("ns"),
                ),
                "user_id": pa.array([0] * n, pa.int64()),
                "event_type": pa.array(["click"] * n),
                "props": pa.array(["{}"] * n),
            }
        ),
        path,
        row_group_size=100,
    )
    t = ParquetReplayTransport(path, "events")
    first, last = t.stream_info()
    s0, s1 = t.resolve_time_bounds(
        first, last, _opt_ts_us("2024-01-01T00:00:10"), _opt_ts_us("2024-01-01T00:00:20")
    )
    # superset must cover the qualifying rows AND the stats-less group
    assert s0 <= 11 and s1 == last


# --- the columnar replay reader ------------------------------------------------


def _read_batches(path: str, **options):
    """Every batch the batch reader yields over the log, read in-process."""
    reader = NatsScanBatchReader({"stream": "events", "replay_path": path, **options})
    return [b for p in reader.partitions() for b in reader.read(p)]


def test_replay_log_rewritten_in_place_reads_new_payloads(tmp_path):
    """A replay log rewritten in place is read as it now is by the same
    worker process: nothing decoded from the old file is reused."""
    path = str(tmp_path / "events.parquet")
    _write_log(path, list(range(5)), [f"old{i}" for i in range(5)])
    assert len(_read_batches(path, partitions="1")) == 1
    _write_log(path, list(range(5)), [f"new{i}" for i in range(5)])
    payloads = [p for b in _read_batches(path, partitions="1") for p in b["payload"].to_pylist()]
    assert sorted(payloads) == [f"new{i}".encode() for i in range(5)]


def test_sparse_sequence_span_reads_its_messages(tmp_path):
    """The read costs what its messages cost, not the width of the sequence
    range: a 2-message log with event_ids 0 and 2**40 reads its 2 rows. It
    runs in a subprocess under a deadline, because a reader that walks every
    sequence number of the range would not finish."""
    import os
    import subprocess
    import sys

    path = str(tmp_path / "sparse.parquet")
    _write_log(path, [0, 2**40], ["a", "b"])
    code = (
        "from duckdb_nats_jetstream_spark.sources.nats_source import NatsScanBatchReader\n"
        f"r = NatsScanBatchReader({{'stream': 'events', 'replay_path': {path!r}}})\n"
        "print(sorted(s for p in r.partitions() for b in r.read(p) for s in b['seq'].to_pylist()))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == f"[1, {2**40 + 1}]"


def test_read_yields_bounded_batches(tmp_path):
    """Every batch ``read`` yields has at most 2,048 rows (the reference's
    ``STANDARD_VECTOR_SIZE``), also when one partition spans row groups
    larger than that."""
    path = str(tmp_path / "events.parquet")
    n = 5000
    _write_log(path, list(range(n)), ["{}"] * n, row_group_size=3000)
    batches = _read_batches(path, partitions="1")
    assert sum(b.num_rows for b in batches) == n
    assert len(batches) > 1
    assert all(b.num_rows <= 2048 for b in batches)


def test_register_on_session_and_its_clone(spark, sf_dir):
    """``register`` works on a session and on its ``newSession()`` clone, and
    both then load the source."""
    clone = spark.newSession()
    register(spark)
    register(clone)
    want = message_scan(spark, sf_dir).count()
    for session in (spark, clone):
        df = (
            session.read.format("nats_jetstream")
            .option("stream", "events")
            .option("replay_path", _events(sf_dir))
            .load()
        )
        assert df.count() == want
