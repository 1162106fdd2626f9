"""``nats_jetstream`` — a PySpark Python DataSource (DataSource V2 API) with
the semantics of the reference's ``nats_scan`` table function
(ref:src/nats_scan.cpp:879-897), upgraded to Spark's execution model:

- **Fixed schema**, never inferred: the 5 base columns
  (ref:src/nats_scan.cpp:365-385). Payload extraction composes above the
  source: :func:`nats_scan` applies the reference's scan parameters through
  ``message_scan.apply_scan_parameters``, as ``message_scan`` and
  ``message_stream`` do, so every scan gives the same schema and values
  for the same log.
- **Partitioned parallel scan** — the reference is hard single-threaded
  (``MaxThreads()==1``, ref:src/nats_scan.cpp:197-199) and lists parallel
  scanning as roadmap (ref:docs/GUIDE.md:484-488). Here ``partitions()``
  splits the sequence range into N contiguous slices, one Spark task each.
- **Streaming tail** via ``simpleStreamReader`` — sequence number is the
  offset; Spark's checkpoint replaces the roadmap's "durable consumer /
  checkpoint management" (ref:docs/GUIDE.md:461-465).
- **Gap tolerance**: missing sequence numbers are skipped, like the
  reference's NATS_NOT_FOUND handling (ref:src/nats_scan.cpp:725-729).

Transports:

- ``ParquetReplayTransport`` — replays a parquet message log (the driver's
  ``events`` table) as the stream; offline correctness + tests.
- ``NatsLiveTransport`` — JetStream Direct Get over nats-py; gated behind
  an import (the client library isn't bundled here). The fetch loop
  mirrors the reference's per-message execute loop
  (ref:src/nats_scan.cpp:598-877) with timeouts applied to every
  round-trip, not just connect.

Both transports hand the reader Arrow ``RecordBatch``es of at most
``BATCH_ROWS`` messages — the reference's ``STANDARD_VECTOR_SIZE`` chunks —
and ``read`` filters each batch with ``pyarrow.compute``, so this source
crosses the Python boundary per batch, never per row. It still runs in a
Python worker, so for bulk analytics over an *archived* log, prefer
``message_scan`` (pure JVM parquet scan). The DataSource is the
*live/connector* path.
"""

from __future__ import annotations

import datetime as _dt
import functools
import re
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import DataFrame

from duckdb_nats_jetstream_spark.errors import BindError
from duckdb_nats_jetstream_spark.schema import message_schema
from duckdb_nats_jetstream_spark.sources.message_scan import (
    _as_timestamp,
    _micros,
    apply_scan_parameters,
)

#: rows per Arrow batch on both sides of ``fetch`` — the reference's
#: ``STANDARD_VECTOR_SIZE`` chunk (PAPER.md)
BATCH_ROWS = 2048

#: the transports' batch contract: raw messages in, before any filter
MESSAGE_BATCH_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("subject", pa.string()),
        ("ts_ns", pa.int64()),  # NULL: the message carries no timestamp
        ("payload", pa.binary()),
    ]
)


def _opt_ts_us(s: str | None) -> int | None:
    """ISO timestamp option → epoch µs, UTC-normalised like ``message_scan``."""
    return _micros(_as_timestamp(s)) if s else None


def _resolve_time_bounds(
    transport, start: int, end: int, lo_us: int | None, hi_us: int | None
) -> tuple[int, int]:
    """Time bounds → a SUPERSET sequence range via binary search on the
    nondecreasing (seq → ts) map. **LIVE TRANSPORT ONLY**: JetStream
    RECEIVE timestamps are monotone in seq — a broker guarantee, and the
    property the reference's own broker search relies on
    (ref:src/nats_scan.cpp:546-595). A replayed EVENT-time log has no
    such guarantee (event_id order need not be event-time order), so on
    out-of-order data this search can return a non-superset range and
    read()'s exact filter would then silently drop in-range messages —
    ``ParquetReplayTransport.resolve_time_bounds`` therefore resolves
    from row-group statistics instead (r10 ADVICE, medium). Probes
    gap-skip forward in growing windows starting at width 1, so the live
    transport usually pays ONE round-trip per probe; messages without a
    timestamp are invisible to the search (read()'s exact filter excludes
    them whenever a bound is set). A probe takes the first timestamped
    message in the order ``fetch`` yields them, which the live transport
    yields in sequence order; its ns timestamp truncates toward zero to µs,
    as in every reader, pre-1970 included."""

    def first_ts_at_or_after(s: int):
        step = 1
        cur = s
        while cur <= end:
            for batch in transport.fetch(cur, min(cur + step - 1, end)):
                stamped = batch.filter(pc.is_valid(batch["ts_ns"])).slice(0, 1)
                if stamped.num_rows:
                    seq = int(stamped["seq"].to_numpy()[0])
                    return seq, _stat_us(int(stamped["ts_ns"].to_numpy()[0]))
            cur += step
            step = min(step * 8, 1 << 16)
        return None

    def lower_bound(target_us: int) -> int:
        # smallest sequence position s in [start, end+1] such that every
        # timestamped message at seq >= s has ts >= target_us
        lo_s, hi_s = start, end + 1
        while lo_s < hi_s:
            mid = (lo_s + hi_s) // 2
            nxt = first_ts_at_or_after(mid)
            if nxt is None or nxt[1] >= target_us:
                hi_s = mid
            else:
                lo_s = nxt[0] + 1  # nxt exists and is below target
        return lo_s

    s0, s1 = start, end
    if lo_us is not None:
        s0 = lower_bound(lo_us)
    if hi_us is not None:
        s1 = lower_bound(hi_us + 1) - 1
    return s0, s1


# --- transports ---------------------------------------------------------------


def _footer_stats(md, column: str) -> list[tuple | None] | None:
    """``(min, max)`` of the top-level ``column`` per row group, from the
    parquet footer (None for a group written without statistics), or None
    when the file has no such column. The column is located by
    ``path_in_schema``, the physical leaf order, not by position: a ts-first
    layout read as column 0 would yield ~1e18 "sequences"."""
    if md.num_row_groups == 0:
        return []
    rg0 = md.row_group(0)
    paths = [rg0.column(i).path_in_schema for i in range(rg0.num_columns)]
    if column not in paths:
        return None
    idx = paths.index(column)
    stats = (md.row_group(rg).column(idx).statistics for rg in range(md.num_row_groups))
    return [(s.min, s.max) if s is not None and s.has_min_max else None for s in stats]


def _stat_us(v) -> int:
    """A ``ts`` statistic or epoch-ns int → epoch µs, truncated toward zero
    like read() and every other reader (``tables.canonical_ts``, DuckDB),
    pre-1970 included. pyarrow yields a pandas ``Timestamp`` (ns in
    ``.value``) for TIMESTAMP(NANOS), a datetime for MILLIS/MICROS, and an
    int for a raw int64 ns column."""
    if isinstance(v, _dt.datetime):
        if not hasattr(v, "value"):
            return _micros(v)
        v = v.value
    return int(v) // 1000 if v >= 0 else -(-int(v) // 1000)


class ParquetReplayTransport:
    """Replay a parquet events log as a JetStream stream, columnar from file
    to batch. The object that crosses the pickle boundary is just config;
    each ``fetch`` opens the file afresh (a log rewritten in place is read as
    it now is), reads only the row groups whose ``event_id`` statistics
    overlap its slice, ``BATCH_ROWS`` rows at a time, and builds the message
    columns with ``pyarrow.compute``. Memory stays at one batch, and the cost
    follows the messages read, not the width of the sequence range."""

    _COLUMNS = ["event_id", "ts", "user_id", "event_type", "props"]

    def __init__(self, path: str, stream: str):
        self.path = path
        self.stream = stream

    def _event_id_stats(self, md) -> list[tuple | None]:
        stats = _footer_stats(md, "event_id")
        if stats is None:
            raise BindError(f"replay log {self.path!r} has no 'event_id' column")
        return stats

    def stream_info(self) -> tuple[int, int]:
        """(first, last) sequence from the ``event_id`` row-group statistics,
        no data read; a log written without them costs one ``min_max`` over
        that column."""
        with pq.ParquetFile(self.path) as pf:
            stats = self._event_id_stats(pf.metadata)
            if None in stats:
                mm = pc.min_max(pf.read(columns=["event_id"]).column(0))
                valid = mm["min"].is_valid
                stats = [pa.array([mm["min"], mm["max"]]).to_numpy()] if valid else []
        if not stats:
            return (0, 0)
        return (int(min(s[0] for s in stats)) + 1, int(max(s[1] for s in stats)) + 1)

    def _messages(self, batch: pa.RecordBatch) -> pa.RecordBatch:
        """One batch of the log → the transport batch contract."""
        ts = batch["ts"]
        if pa.types.is_timestamp(ts.type):
            # the writer's flavour varies: timestamp[us], timestamp[ns] or
            # raw int64 ns
            ts = pc.cast(ts, pa.timestamp("ns"))
        user = pc.binary_join_element_wise(
            "u", pc.cast(batch["user_id"], pa.string()), ""
        )
        return pa.RecordBatch.from_arrays(
            [
                # sequences start at 1, like JetStream
                pc.add(pc.cast(batch["event_id"], pa.int64()), 1),
                pc.binary_join_element_wise(self.stream, batch["event_type"], user, "."),
                pc.cast(ts, pa.int64()),
                # binary props (e.g. protobuf-encoded logs) pass through;
                # string props encode like any NATS text payload
                pc.cast(batch["props"], pa.binary()),
            ],
            schema=MESSAGE_BATCH_SCHEMA,
        )

    def fetch(self, start_seq: int, end_seq: int) -> Iterator[pa.RecordBatch]:
        """The messages with ``start_seq <= seq <= end_seq`` in batches of at
        most ``BATCH_ROWS`` rows; a missing sequence is a gap
        (ref:src/nats_scan.cpp:725-729). A row group without statistics is
        read and filtered."""
        lo_id, hi_id = start_seq - 1, end_seq - 1  # seq = event_id + 1
        with pq.ParquetFile(self.path) as pf:
            groups = [
                rg
                for rg, s in enumerate(self._event_id_stats(pf.metadata))
                if s is None or (s[0] <= hi_id and s[1] >= lo_id)
            ]
            if not groups:
                return
            for batch in pf.iter_batches(
                batch_size=BATCH_ROWS, row_groups=groups, columns=self._COLUMNS
            ):
                eid = batch["event_id"]
                batch = batch.filter(
                    pc.and_(pc.greater_equal(eid, lo_id), pc.less_equal(eid, hi_id))
                )
                if batch.num_rows:
                    yield self._messages(batch)

    def resolve_time_bounds(
        self, start: int, end: int, lo_us: int | None, hi_us: int | None
    ) -> tuple[int, int]:
        """Time bounds → a superset sequence range from parquet ROW-GROUP
        STATISTICS, order-insensitively: an event-time replay log is NOT
        monotone in event_id, so the live transport's binary search could
        return a non-superset range here and silently drop in-range
        messages (r10 ADVICE, medium). A row group MAY hold qualifying
        rows iff its [ts_min, ts_max] intersects [lo, hi]; the union of
        the intersecting groups' event_id ranges is a superset by
        construction at ANY row order. One footer read, zero data pages,
        zero probe fetches. Comparisons truncate sub-µs precision toward zero
        exactly like read(), and a group missing statistics is
        conservatively included."""
        md = pq.read_metadata(self.path)
        ts, eid = _footer_stats(md, "ts"), _footer_stats(md, "event_id")
        if not ts or not eid:
            return (start, end)
        s0 = s1 = None
        for ts_s, eid_s in zip(ts, eid):
            if ts_s is not None:
                if lo_us is not None and _stat_us(ts_s[1]) < lo_us:
                    continue
                if hi_us is not None and _stat_us(ts_s[0]) > hi_us:
                    continue
            if eid_s is None:
                return (start, end)  # can't bound this group — widen fully
            g0, g1 = int(eid_s[0]) + 1, int(eid_s[1]) + 1  # seq = eid + 1
            s0 = g0 if s0 is None else min(s0, g0)
            s1 = g1 if s1 is None else max(s1, g1)
        if s0 is None:
            return (start, start - 1)  # no group can qualify: empty range
        return (max(s0, start), min(s1, end))


_RFC3339_RE = re.compile(
    r"^(\d{4}-\d{2}-\d{2}[Tt ]\d{2}:\d{2}:\d{2})"
    r"(?:\.(\d+))?"
    r"([Zz]|[+-]\d{2}:?\d{2})?$"
)


def _parse_rfc3339_ns(ts: str) -> int:
    """RFC3339 timestamp (the JetStream ``Nats-Time-Stamp`` header, e.g.
    ``2024-01-15T10:30:45.123456789Z``) → epoch nanoseconds, EXACT.

    Two traps a naive ``fromisoformat(...).timestamp() * 1e9`` hits:
    ``fromisoformat`` rejects the 9-digit fractions NATS emits, and the
    float multiply loses sub-microsecond precision at current epochs
    (2^30 s × 1e9 needs 60 bits — float64 has 53). Integer math on the
    fraction digits keeps ns-parity with the replay transport's stored
    ``ts_ns`` column. Raises ValueError on malformed input."""
    m = _RFC3339_RE.match(ts.strip())
    if m is None:
        raise ValueError(f"not an RFC3339 timestamp: {ts!r}")
    base, frac, off = m.groups()
    if off is None or off in ("Z", "z"):
        off = "+00:00"
    elif ":" not in off:
        off = off[:3] + ":" + off[3:]
    dt = _dt.datetime.fromisoformat(base + off)
    # integral epoch seconds are exact in float64 (< 2^53)
    ns = int(dt.timestamp()) * 1_000_000_000
    if frac:
        ns += int((frac + "000000000")[:9])
    return ns


async def _close_bounded(nc, timeout: float) -> None:
    """Best-effort connection release with a deadline: close() flushes
    pending writes, and a wedged socket would otherwise hang the task
    right after a fetch/info timeout promised it couldn't."""
    import asyncio

    try:
        await asyncio.wait_for(nc.close(), timeout)
    except Exception:
        pass


def _is_not_found(exc: Exception) -> bool:
    """True iff ``exc`` is JetStream's message/stream-not-found — the ONLY
    condition that means "sequence gap". nats-py signals it as
    ``NotFoundError``/``MsgNotFoundError`` or an APIError with code 404;
    matched structurally since the library is import-gated here. Anything
    else (connection drop, auth, protocol) must ERROR, not gap-skip —
    treating a dead connection as a run of gaps silently truncates the
    scan."""
    name = type(exc).__name__
    if "NotFound" in name:
        return True
    code = getattr(exc, "code", None)
    return code in (404, "404")


class NatsLiveTransport:
    """JetStream Direct Get over nats-py (not bundled in this environment).

    Mirrors the reference's connection lifecycle — lazy connect with a
    bounded timeout (ref:src/nats_scan.cpp:610-659), per-sequence Direct
    Get with NOT_FOUND gap-skip (ref:src/nats_scan.cpp:725-729). Fetches
    are PER-MESSAGE round-trips, same as the reference's execute loop;
    the JetStream Direct Get batch extension would amortize them but
    nats-py exposes no batch API, so the loop stays honest. ``timeout``
    bounds BOTH the connect and each fetch/info round-trip: a broker that
    accepts the connection then stalls must surface as an error, not hang
    the Spark task — and a stalled fetch raises rather than being
    silently mistaken for a sequence gap."""

    def __init__(self, url: str, stream: str, timeout: float = 5.0):
        self.url = url
        self.stream = stream
        self.timeout = timeout

    def _client(self):
        try:
            import nats  # noqa: F401
        except ImportError as e:
            raise BindError(
                "live NATS transport requires the nats-py client; "
                "use replay_path=<parquet> for offline scans"
            ) from e
        import asyncio

        return asyncio

    def _run(self, coro, what: str):
        """Run a transport coroutine with the full error contract: every
        failure mode — connect refused/auth (nats-py raises its OWN
        exception types, including a TimeoutError that is NOT the
        builtin), stalled round-trip, malformed broker data — surfaces
        as BindError carrying the url context, never a bare third-party
        exception out of a Spark task."""
        import asyncio

        try:
            return asyncio.run(coro)
        except BindError:
            raise
        except (asyncio.TimeoutError, TimeoutError) as e:
            raise BindError(
                f"{what} timed out after {self.timeout}s against {self.url}"
            ) from e
        except Exception as e:
            raise BindError(f"{what} failed against {self.url}: {e!r}") from e

    def stream_info(self) -> tuple[int, int]:
        asyncio = self._client()

        async def _info():
            import nats

            nc = await nats.connect(self.url, connect_timeout=self.timeout)
            try:
                js = nc.jetstream()
                info = await asyncio.wait_for(
                    js.stream_info(self.stream), self.timeout
                )
                return (info.state.first_seq, info.state.last_seq)
            finally:
                await _close_bounded(nc, self.timeout)

        return self._run(_info(), f"stream_info('{self.stream}')")

    def resolve_time_bounds(
        self, start: int, end: int, lo_us: int | None, hi_us: int | None
    ) -> tuple[int, int]:
        """Binary search on the (seq → receive-ts) map — monotone BY BROKER
        GUARANTEE on the live stream (the reference's own assumption,
        ref:src/nats_scan.cpp:546-595). O(log N) probe round-trips, never
        a full-stream fetch."""
        return _resolve_time_bounds(self, start, end, lo_us, hi_us)

    def fetch(self, start_seq: int, end_seq: int) -> Iterator[pa.RecordBatch]:
        """One Direct Get per sequence in the inclusive range, handed on as
        batches of at most ``BATCH_ROWS`` rows like the replay transport's."""
        asyncio = self._client()

        async def _fetch():
            import nats

            nc = await nats.connect(self.url, connect_timeout=self.timeout)
            out = []
            try:
                js = nc.jetstream()
                # Stream-existence probe, once per fetch: NOT_FOUND from
                # get_msg is ambiguous between "sequence gap" (skip) and
                # "stream deleted/mistyped" (error) — without the probe a
                # missing stream gap-skips EVERY sequence and returns an
                # empty partition silently (r07 ADVICE). One extra
                # round-trip per task, amortized over the whole range.
                try:
                    await asyncio.wait_for(
                        js.stream_info(self.stream), self.timeout
                    )
                except (asyncio.TimeoutError, TimeoutError) as e:
                    raise BindError(
                        f"stream_info('{self.stream}') timed out after "
                        f"{self.timeout}s against {self.url}"
                    ) from e
                except Exception as e:
                    raise BindError(
                        f"stream '{self.stream}' not accessible on "
                        f"{self.url} (deleted or mistyped?): {e!r}"
                    ) from e
                for seq in range(start_seq, end_seq + 1):
                    try:
                        msg = await asyncio.wait_for(
                            js.get_msg(self.stream, seq, direct=True),
                            self.timeout,
                        )
                    except (asyncio.TimeoutError, TimeoutError) as e:
                        # a stalled broker is an ERROR; only NOT_FOUND
                        # (below) is a gap
                        raise BindError(
                            f"get_msg(seq={seq}) timed out after "
                            f"{self.timeout}s against {self.url}"
                        ) from e
                    except Exception as e:
                        if _is_not_found(e):
                            continue  # NOT_FOUND gap-skip
                        raise BindError(
                            f"get_msg(seq={seq}) failed against "
                            f"{self.url}: {e!r}"
                        ) from e
                    hdr = msg.headers.get("Nats-Time-Stamp") if msg.headers else None
                    try:
                        # no header → NULL ts_nats, never epoch zero
                        ts_ns = _parse_rfc3339_ns(hdr) if hdr else None
                    except ValueError as e:
                        raise BindError(
                            f"seq {seq}: malformed Nats-Time-Stamp "
                            f"header {hdr!r}"
                        ) from e
                    out.append((seq, msg.subject, ts_ns, msg.data))
            finally:
                await _close_bounded(nc, self.timeout)
            return out

        rows = self._run(_fetch(), f"fetch({start_seq}-{end_seq}) on '{self.stream}'")
        columns = zip(*rows) if rows else [[]] * len(MESSAGE_BATCH_SCHEMA)
        table = pa.Table.from_pydict(
            dict(zip(MESSAGE_BATCH_SCHEMA.names, columns)), schema=MESSAGE_BATCH_SCHEMA
        )
        return iter(table.to_batches(max_chunksize=BATCH_ROWS))


def _make_transport(options: dict):
    replay = options.get("replay_path")
    stream = options.get("stream")
    if replay:
        return ParquetReplayTransport(replay, stream)
    return NatsLiveTransport(options.get("url", "nats://localhost:4222"), stream)


# --- the DataSource -----------------------------------------------------------


class SeqRangePartition(InputPartition):
    def __init__(self, start_seq: int, end_seq: int):
        self.start_seq = start_seq
        self.end_seq = end_seq


def _seq_slices(lo: int, hi: int, n_parts: int) -> list[SeqRangePartition]:
    """``[lo, hi]`` as at most ``n_parts`` contiguous slices, one Spark task
    each (the parallel-scan upgrade over the reference's single thread,
    ref:src/nats_scan.cpp:197-199; its roadmap lists parallel scanning,
    ref:docs/GUIDE.md:484-488)."""
    n = max(1, min(n_parts, hi - lo + 1))
    width = (hi - lo + 1 + n - 1) // n
    return [
        SeqRangePartition(s, min(s + width - 1, hi)) for s in range(lo, hi + 1, width)
    ]


#: every option the source understands — unknown options are bind errors so a
#: typo'd "strat_seq" can't silently widen a range scan into a full scan
KNOWN_OPTIONS = {
    "stream", "url", "subject", "start_seq", "end_seq", "start_time",
    "end_time", "partitions", "replay_path",
    # spark adds its own bookkeeping options on load(); ignore lowercase path
    "path", "paths",
}


def _parse_options(options: dict) -> str:
    unknown = {
        k for k in options
        if k.lower() not in KNOWN_OPTIONS and not k.lower().startswith("spark.")
    }
    if unknown:
        raise BindError(
            f"unknown nats_jetstream option(s) {sorted(unknown)}; "
            f"valid options: {sorted(KNOWN_OPTIONS - {'path', 'paths'})}; "
            "payload extraction (json_extract, proto_file, proto_message, "
            "proto_extract) composes above the source through nats_scan"
        )
    stream = options.get("stream")
    if not stream:
        raise BindError("nats_jetstream requires a 'stream' option")
    has_seq = "start_seq" in options or "end_seq" in options
    has_time = "start_time" in options or "end_time" in options
    if has_seq and has_time:
        raise BindError(
            "Cannot specify both sequence range (start_seq/end_seq) and "
            "time range (start_time/end_time)"
        )
    return stream


class NatsScanBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = dict(options)
        self.stream = _parse_options(self.options)
        self.subject = self.options.get("subject")
        self.n_partitions = int(self.options.get("partitions", "8"))

    def partitions(self):
        transport = _make_transport(self.options)
        first, last = transport.stream_info()
        start = int(self.options.get("start_seq", first or 1))
        end = int(self.options.get("end_seq", last))
        if "start_time" in self.options or "end_time" in self.options:
            # resolve time bounds to sequence bounds driver-side, PER
            # TRANSPORT: the live transport binary-searches the monotone
            # (seq → receive-ts) map — the stand-in for the reference's
            # broker binary search (ref:src/nats_scan.cpp:546-595),
            # O(log N) probe round-trips, never a full-stream fetch; the
            # replay transport resolves from parquet row-group statistics
            # because an event-time log is not monotone in seq (r10
            # ADVICE). The bounds only need to be a superset: read()
            # re-applies the exact µs filter.
            lo_us = _opt_ts_us(self.options.get("start_time"))
            hi_us = _opt_ts_us(self.options.get("end_time"))
            start, end = transport.resolve_time_bounds(start, end, lo_us, hi_us)
        if end < start:
            return []
        return _seq_slices(start, end, self.n_partitions)

    def read(self, partition: SeqRangePartition):
        """Yield one Arrow RecordBatch of the five base columns per
        transport batch, so at most ``BATCH_ROWS`` rows each (the DataSource
        fast path — per-row tuple yields cost ~10× in pickling). The subject
        substring (ref:src/nats_scan.cpp:741-746) and the exact µs time
        bounds apply as one ``pyarrow.compute`` mask; a message without a
        timestamp carries ts_nats NULL — never epoch zero — and a time bound
        excludes it (SQL comparison-with-NULL). The ns timestamp truncates
        toward zero to µs, as in every reader, pre-1970 included."""
        transport = _make_transport(self.options)
        lo_us = _opt_ts_us(self.options.get("start_time"))
        hi_us = _opt_ts_us(self.options.get("end_time"))
        us, names = pa.timestamp("us"), message_schema().names
        for batch in transport.fetch(partition.start_seq, partition.end_seq):
            ts = pc.cast(pc.cast(batch["ts_ns"], pa.timestamp("ns")), us, safe=False)
            preds = []
            if self.subject:
                preds.append(pc.match_substring(batch["subject"], self.subject))
            if lo_us is not None:
                preds.append(pc.greater_equal(ts, pa.scalar(lo_us, us)))
            if hi_us is not None:
                preds.append(pc.less_equal(ts, pa.scalar(hi_us, us)))
            out = pa.RecordBatch.from_arrays(
                [
                    pa.repeat(self.stream, batch.num_rows),
                    batch["subject"],
                    batch["seq"],
                    ts,
                    batch["payload"],
                ],
                names=names,
            )
            if preds:
                out = out.filter(functools.reduce(pc.and_, preds))
            if out.num_rows:
                yield out


class NatsScanStreamReader(DataSourceStreamReader):
    """Micro-batch tail: offset = next sequence to read. Spark's checkpoint
    persists it — the durable-consumer semantics from the roadmap."""

    def __init__(self, options: dict):
        self.options = dict(options)
        self._transport = None
        self._initial: dict | None = None
        self._batch_reader = NatsScanBatchReader(self.options)

    def _t(self):
        if self._transport is None:
            self._transport = _make_transport(self.options)
        return self._transport

    def initialOffset(self):
        # memoized: the configured start is static, and recomputing it in
        # every latestOffset() doubled the per-micro-batch stream_info
        # round-trips (each with its own timeout window) for nothing
        if self._initial is None:
            first, _last = self._t().stream_info()
            self._initial = {"seq": int(self.options.get("start_seq", first or 1))}
        return dict(self._initial)

    def latestOffset(self):
        _first, last = self._t().stream_info()
        start = self.initialOffset()["seq"]
        return {"seq": max(start, last + 1)}

    def partitions(self, start: dict, end: dict):
        # sliced like the batch reader's range: a catch-up batch over a long
        # backlog fans out instead of serializing through one task
        lo, hi = start["seq"], end["seq"] - 1
        if hi < lo:
            return [SeqRangePartition(lo, hi)]
        return _seq_slices(lo, hi, self._batch_reader.n_partitions)

    def read(self, partition: SeqRangePartition):
        if partition.end_seq < partition.start_seq:
            return
        yield from self._batch_reader.read(partition)

    def commit(self, end: dict):
        pass


class NatsJetStreamDataSource(DataSource):
    """``spark.read.format("nats_jetstream")`` /
    ``spark.readStream.format("nats_jetstream")``."""

    @classmethod
    def name(cls) -> str:
        return "nats_jetstream"

    def schema(self):
        _parse_options(self.options)
        return message_schema()

    def reader(self, schema):
        return NatsScanBatchReader(self.options)

    def streamReader(self, schema):
        return NatsScanStreamReader(self.options)


def register(spark) -> None:
    """Register the source on ``spark``. Spark checks the name against the
    thread's active session, not the target, so ``spark`` is made the active
    session for the call: otherwise registering on a ``newSession()`` clone
    of a session that already has the source raises
    ``DATA_SOURCE_ALREADY_EXISTS`` and leaves the clone without it."""
    j_session = spark._jvm.org.apache.spark.sql.classic.SparkSession
    previous = j_session.getActiveSession()
    j_session.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(NatsJetStreamDataSource)
    finally:
        if previous.isDefined():
            j_session.setActiveSession(previous.get())
        else:
            j_session.clearActiveSession()


def nats_scan(
    reader,
    stream: str,
    *,
    json_extract: list[str] | None = None,
    proto_file: str | None = None,
    proto_message: str | None = None,
    proto_extract: list[str] | None = None,
    **options,
) -> DataFrame:
    """The reference's ``nats_scan(stream, ...)`` table function
    (ref:src/nats_scan.cpp:879-897) over the ``nats_jetstream`` source.

    ``reader`` is ``spark.read`` (a bounded scan) or ``spark.readStream``
    (a checkpointable tail); ``options`` are the source's own
    (``replay_path``, ``start_seq``, ``subject``, ``partitions``, ...).
    The source yields the 5 base columns; the reference's extraction
    parameters compose above it through ``message_scan``'s
    :func:`apply_scan_parameters`, the one definition all three scans
    share, so the JVM ``get_json_object`` is the one JSON extractor and the
    payload is binary outside JSON mode. Call :func:`register` on the
    session first.

    Bind rules (ref:src/nats_scan.cpp:267-285): JSON and proto together is
    an error; ``proto_extract`` needs ``proto_file`` and ``proto_message``;
    the ``.proto`` file is read at the call, driver-side, so workers never see
    its path."""
    load = reader.format("nats_jetstream").options(stream=stream, **options).load
    return apply_scan_parameters(
        load,
        json_fields=json_extract,
        proto_file=proto_file,
        proto_message=proto_message,
        proto_paths=proto_extract,
    )
