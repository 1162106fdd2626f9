"""NatsLiveTransport contract tests against a STUBBED nats-py client.

No broker exists in this sandbox and nats-py isn't installed, so the live
transport was the one code path with zero coverage (r06 verdict ask #3).
These tests monkeypatch a fake ``nats`` module into ``sys.modules`` that
speaks the slice of the nats-py API the transport uses — async
``connect(url, connect_timeout=)``, ``jetstream()``, ``stream_info``,
``get_msg(stream, seq, direct=)``, ``close()`` — and assert the transport's
observable behavior matches the replay transport on the same fixture:

- ``stream_info`` returns (first_seq, last_seq) from the broker state
- ``fetch`` yields Arrow batches of (seq, subject, ts_ns, payload), at most
  ``BATCH_ROWS`` rows each; NOT_FOUND → gap-skip (the reference's
  semantics, ref:src/nats_scan.cpp:725-729)
- ``Nats-Time-Stamp`` parses to EXACT epoch ns (9-digit RFC3339 fractions);
  a missing header yields ts_ns NULL
- a stalled broker raises BindError (timeout), never hangs and never
  masquerades as a gap
- connections close even on error paths (no fd leak per Spark task)

The fixture messages mirror the reference's connection-error suite surface
(ref:test/sql/test_connection_errors.sql) at the transport layer.
"""

from __future__ import annotations

import asyncio
import sys
import types

import pytest

from duckdb_nats_jetstream_spark.errors import BindError
from duckdb_nats_jetstream_spark.sources.nats_source import (
    BATCH_ROWS,
    MESSAGE_BATCH_SCHEMA,
    NatsLiveTransport,
    _parse_rfc3339_ns,
)


def _rows(batches) -> list[tuple]:
    """The messages of a ``fetch``, after checking each batch against the
    transports' batch contract."""
    out = []
    for b in batches:
        assert b.schema == MESSAGE_BATCH_SCHEMA
        assert 0 < b.num_rows <= BATCH_ROWS
        out += [tuple(r.values()) for r in b.to_pylist()]
    return out


# --- fake nats-py -------------------------------------------------------------


class _FakeMsg:
    def __init__(self, subject, data, headers):
        self.subject = subject
        self.data = data
        self.headers = headers


class _NotFound(Exception):
    pass


class _FakeJetStream:
    def __init__(self, broker):
        self.broker = broker

    async def stream_info(self, stream):
        if self.broker.info_delay:
            await asyncio.sleep(self.broker.info_delay)
        if stream != self.broker.stream:
            raise _NotFound(f"stream not found: {stream}")
        seqs = sorted(self.broker.messages)
        state = types.SimpleNamespace(first_seq=seqs[0], last_seq=seqs[-1])
        return types.SimpleNamespace(state=state)

    async def get_msg(self, stream, seq, direct=False):
        self.broker.get_calls.append(seq)
        if self.broker.fetch_delay:
            await asyncio.sleep(self.broker.fetch_delay)
        if seq not in self.broker.messages:
            raise _NotFound(f"no message at seq {seq}")
        return self.broker.messages[seq]


class _FakeClient:
    def __init__(self, broker):
        self.broker = broker

    def jetstream(self):
        return _FakeJetStream(self.broker)

    async def close(self):
        self.broker.closed += 1


class _FakeBroker:
    """In-memory JetStream stand-in installed as module ``nats``."""

    def __init__(self, stream, messages, fetch_delay=0.0, info_delay=0.0):
        self.stream = stream
        self.messages = messages
        self.fetch_delay = fetch_delay
        self.info_delay = info_delay
        self.connects = []
        self.get_calls = []
        self.closed = 0

    def install(self, monkeypatch):
        mod = types.ModuleType("nats")

        async def connect(url, connect_timeout=None):
            self.connects.append((url, connect_timeout))
            return _FakeClient(self)

        mod.connect = connect
        monkeypatch.setitem(sys.modules, "nats", mod)
        return self


def _msg(subject, payload, ts="2024-01-15T10:30:45.123456789Z"):
    headers = {"Nats-Time-Stamp": ts} if ts is not None else None
    return _FakeMsg(subject, payload, headers)


@pytest.fixture
def broker(monkeypatch):
    return _FakeBroker(
        "events",
        {
            1: _msg("events.click.u1", b'{"k":"1"}', "2024-01-15T10:30:45.123456789Z"),
            2: _msg("events.view.u2", b'{"k":"2"}', "2024-01-15T10:30:46Z"),
            # seq 3 missing: a real JetStream gap (deleted/purged message)
            4: _msg("events.click.u3", b"\x00binary", None),  # no ts header
            5: _msg("events.buy.u1", b'{"k":"5"}', "2024-01-15T10:30:47.5+02:00"),
        },
    ).install(monkeypatch)


# --- contract -----------------------------------------------------------------


def test_stream_info_reports_broker_state(broker):
    t = NatsLiveTransport("nats://fake:4222", "events")
    assert t.stream_info() == (1, 5)
    assert broker.connects == [("nats://fake:4222", 5.0)]
    assert broker.closed == 1


def test_fetch_yields_rows_and_gap_skips(broker):
    t = NatsLiveTransport("nats://fake:4222", "events")
    rows = _rows(t.fetch(1, 5))
    assert [r[0] for r in rows] == [1, 2, 4, 5]  # 3 gap-skipped
    assert broker.get_calls == [1, 2, 3, 4, 5]  # every seq probed once
    assert rows[0] == (
        1,
        "events.click.u1",
        1705314645123456789,
        b'{"k":"1"}',
    )
    # missing Nats-Time-Stamp header → ts_ns NULL (never epoch zero: a
    # start_time filter would silently drop an epoch-0 row while unbounded
    # scans showed a bogus 1970 timestamp); payload passes through raw
    assert rows[2] == (4, "events.click.u3", None, b"\x00binary")
    # +02:00 offset: 10:30:47.5+02:00 == 08:30:47.5Z
    assert rows[3][2] == 1705307447500000000
    assert broker.closed == 1


def test_fetch_subrange_probes_only_requested_seqs(broker):
    t = NatsLiveTransport("nats://fake:4222", "events")
    rows = _rows(t.fetch(2, 4))
    assert [r[0] for r in rows] == [2, 4]
    assert broker.get_calls == [2, 3, 4]


def test_fetch_missing_stream_errors_not_empty(broker):
    """A deleted/mistyped stream must BIND-error from fetch, not gap-skip
    every sequence into a silently empty partition (r07 ADVICE): get_msg's
    NOT_FOUND is ambiguous, so fetch probes stream existence once before
    the sequence loop."""
    t = NatsLiveTransport("nats://fake:4222", "eventz")  # typo'd stream
    with pytest.raises(BindError, match="eventz.*not accessible"):
        _rows(t.fetch(1, 5))
    assert broker.get_calls == []  # errored before any per-seq probe
    assert broker.closed == 1  # connection still released


def test_fetch_matches_replay_transport_row_shape(broker, sf_dir):
    """Both transports feed the same reader; their row contract must agree."""
    from duckdb_nats_jetstream_spark.sources.nats_source import (
        ParquetReplayTransport,
    )

    live_rows = _rows(NatsLiveTransport("nats://fake:4222", "events").fetch(1, 2))
    replay = ParquetReplayTransport(f"{sf_dir}/events.parquet", "events")
    lo, _hi = replay.stream_info()
    replay_rows = _rows(replay.fetch(lo, lo + 1))
    assert len(live_rows) and len(replay_rows)
    for rows in (live_rows, replay_rows):
        for seq, subject, ts_ns, payload in rows:
            assert isinstance(seq, int)
            assert isinstance(subject, str) and subject.startswith("events.")
            assert isinstance(ts_ns, int)
            assert isinstance(payload, (bytes, bytearray))


def test_stalled_fetch_raises_bind_error_not_gap(monkeypatch):
    broker = _FakeBroker(
        "events",
        {1: _msg("events.click.u1", b"x")},
        fetch_delay=30.0,
    ).install(monkeypatch)
    t = NatsLiveTransport("nats://fake:4222", "events", timeout=0.05)
    with pytest.raises(BindError, match="timed out"):
        _rows(t.fetch(1, 1))
    assert broker.closed == 1  # connection released on the error path


def test_stalled_stream_info_raises_bind_error(monkeypatch):
    broker = _FakeBroker(
        "events", {1: _msg("events.click.u1", b"x")}, info_delay=30.0
    ).install(monkeypatch)
    t = NatsLiveTransport("nats://fake:4222", "events", timeout=0.05)
    with pytest.raises(BindError, match="timed out"):
        t.stream_info()
    assert broker.closed == 1


def test_missing_client_is_bind_error(monkeypatch):
    monkeypatch.setitem(sys.modules, "nats", None)  # import raises
    t = NatsLiveTransport("nats://fake:4222", "events")
    with pytest.raises(BindError, match="nats-py"):
        t.stream_info()


# --- timestamp parser ---------------------------------------------------------


def test_rfc3339_ns_exact_nine_digits():
    # the float path (fromisoformat().timestamp()*1e9) is off by hundreds
    # of ns here; integer math must be exact
    assert _parse_rfc3339_ns("2024-01-15T10:30:45.123456789Z") == 1705314645123456789


@pytest.mark.parametrize(
    "ts,ns",
    [
        ("2024-01-15T10:30:45Z", 1705314645000000000),
        ("2024-01-15T10:30:45.5Z", 1705314645500000000),
        ("2024-01-15T10:30:45.000001Z", 1705314645000001000),
        ("2024-01-15T10:30:45.123456789012Z", 1705314645123456789),  # >9 truncates
        ("2024-01-15T10:30:45", 1705314645000000000),  # bare → UTC
        ("2024-01-15T10:30:45+0200", 1705307445000000000),  # compact offset
        ("2024-01-15 10:30:45.25-05:00", 1705332645250000000),
    ],
)
def test_rfc3339_ns_matrix(ts, ns):
    assert _parse_rfc3339_ns(ts) == ns


@pytest.mark.parametrize("bad", ["", "yesterday", "2024-01-15", "10:30:45Z"])
def test_rfc3339_ns_rejects_malformed(bad):
    with pytest.raises(ValueError):
        _parse_rfc3339_ns(bad)


def test_connection_drop_mid_fetch_raises_not_truncates(monkeypatch):
    """A dead connection must ERROR, never masquerade as a run of gaps —
    gap-skip is reserved for NOT_FOUND (r07 review finding)."""

    class _ConnClosed(Exception):
        pass

    broker = _FakeBroker(
        "events",
        {1: _msg("events.click.u1", b"x"), 2: _msg("events.view.u2", b"y")},
    ).install(monkeypatch)
    orig = _FakeJetStream.get_msg

    async def flaky(self, stream, seq, direct=False):
        if seq >= 2:
            raise _ConnClosed("connection closed")
        return await orig(self, stream, seq, direct)

    monkeypatch.setattr(_FakeJetStream, "get_msg", flaky)
    t = NatsLiveTransport("nats://fake:4222", "events")
    with pytest.raises(BindError, match="failed"):
        _rows(t.fetch(1, 2))
    assert broker.closed == 1


def test_not_found_detection_structural():
    from duckdb_nats_jetstream_spark.sources.nats_source import _is_not_found

    class NotFoundError(Exception):
        pass

    class MsgNotFoundError(Exception):
        pass

    class APIError(Exception):
        code = 404

    class OtherError(Exception):
        code = 500

    assert _is_not_found(NotFoundError())
    assert _is_not_found(MsgNotFoundError())
    assert _is_not_found(APIError())
    assert not _is_not_found(OtherError())
    assert not _is_not_found(ValueError("boom"))


# --- property: parser agrees with datetime on its own output ------------------


def test_rfc3339_ns_property_roundtrip():
    from hypothesis import given, settings, strategies as st
    import datetime as dt

    @settings(max_examples=200, deadline=None)
    @given(
        epoch_s=st.integers(min_value=0, max_value=4_000_000_000),
        frac_ns=st.integers(min_value=0, max_value=999_999_999),
        offset_min=st.sampled_from([0, 120, -300, 60, -720]),
    )
    def check(epoch_s, frac_ns, offset_min):
        tz = dt.timezone(dt.timedelta(minutes=offset_min))
        base = dt.datetime.fromtimestamp(epoch_s, tz)
        s = base.strftime("%Y-%m-%dT%H:%M:%S") + f".{frac_ns:09d}" + (
            "Z" if offset_min == 0 else base.strftime("%z")[:3] + ":" + base.strftime("%z")[3:]
        )
        assert _parse_rfc3339_ns(s) == epoch_s * 10**9 + frac_ns

    check()


def test_empty_stream_yields_zero_rows_not_error(monkeypatch):
    """Reference connection-suite semantics (test/sql/
    test_connection_errors.sql Test 3): an existing-but-empty stream scans
    to ZERO rows, not an error — checked at the transport layer (the
    DataSource's partitions() turns (0, 0) into an empty slice list on
    the driver; the stubbed module can't reach Spark's worker processes,
    so the reader-level mapping is pinned separately in
    tests/test_nats_source.py)."""
    broker = _FakeBroker("events", {}).install(monkeypatch)

    async def stream_info(self, stream):
        import types as _t

        return _t.SimpleNamespace(state=_t.SimpleNamespace(first_seq=0, last_seq=0))

    monkeypatch.setattr(_FakeJetStream, "stream_info", stream_info)
    t = NatsLiveTransport("nats://fake:4222", "events")
    assert t.stream_info() == (0, 0)
    assert _rows(t.fetch(1, 0)) == []
    assert broker.closed >= 1


def test_connect_failure_wrapped_in_bind_error(monkeypatch):
    """Connect-phase failures (broker down, auth) must also surface as
    BindError with url context — nats-py raises its own exception types,
    including a TimeoutError that is not the builtin (r07 review)."""
    mod = types.ModuleType("nats")

    class NoServersError(Exception):
        pass

    async def connect(url, connect_timeout=None):
        raise NoServersError("no servers available for connection")

    mod.connect = connect
    monkeypatch.setitem(sys.modules, "nats", mod)
    t = NatsLiveTransport("nats://down:4222", "events")
    with pytest.raises(BindError, match="nats://down:4222"):
        t.stream_info()
    with pytest.raises(BindError, match="nats://down:4222"):
        _rows(t.fetch(1, 3))


def test_malformed_timestamp_header_is_bind_error(monkeypatch):
    broker = _FakeBroker(
        "events", {1: _msg("events.click.u1", b"x", ts="not-a-timestamp")}
    ).install(monkeypatch)
    t = NatsLiveTransport("nats://fake:4222", "events")
    with pytest.raises(BindError, match="Nats-Time-Stamp"):
        _rows(t.fetch(1, 1))
    assert broker.closed == 1
