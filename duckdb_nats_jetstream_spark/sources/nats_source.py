"""``nats_jetstream`` — a PySpark Python DataSource (DataSource V2 API) with
the semantics of the reference's ``nats_scan`` table function
(ref:src/nats_scan.cpp:879-897), upgraded to Spark's execution model:

- **Fixed schema**, never inferred: the 5 base columns
  (ref:src/nats_scan.cpp:365-385). Payload extraction composes above the
  source: :func:`nats_scan` applies the same ``json_extract``/
  ``proto_extract`` transforms as ``message_scan``, so both scans give the
  same values for the same log.
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

Note on the fast path: this source crosses the Python boundary per row, so
for bulk analytics over an *archived* log, prefer ``message_scan`` (pure JVM
parquet scan). The DataSource is the *live/connector* path.
"""

from __future__ import annotations

import datetime as _dt
import functools
import operator
import re
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import DataFrame, functions as F

from duckdb_nats_jetstream_spark.errors import BindError, require
from duckdb_nats_jetstream_spark.functions.json_extract import (
    json_extract as _json_extract,
)
from duckdb_nats_jetstream_spark.functions.proto import (
    proto_extract as _proto_extract,
)
from duckdb_nats_jetstream_spark.schema import message_schema

_EPOCH = _dt.datetime(1970, 1, 1)


def _opt_ts_us(s: str | None) -> int | None:
    """ISO timestamp option → epoch µs. 'Z'/offset-aware values normalize
    to UTC (a naive value IS UTC by the engine's convention) — a bare
    ``t - _EPOCH`` raises TypeError on aware datetimes, and 'Z' is the
    natural format next to NATS' RFC3339 headers."""
    if not s:
        return None
    t = _dt.datetime.fromisoformat(s)
    if t.tzinfo is not None:
        t = t.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return (t - _EPOCH) // _dt.timedelta(microseconds=1)


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
    them whenever a bound is set)."""

    def first_ts_at_or_after(s: int):
        step = 1
        cur = s
        while cur <= end:
            for seq, _subj, ts_ns, _p in transport.fetch(
                cur, min(cur + step - 1, end)
            ):
                if ts_ns is not None:
                    return seq, ts_ns // 1000
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


#: per-worker decoded-slice cache, keyed by (path, stream, start, end) —
#: Spark reuses Python workers across tasks, so a REPEATED slice decodes
#: once per worker (distinct slices decode separately). BOUNDED: a
#: streaming query produces a new (start, end) per micro-batch, and an
#: unbounded dict would accumulate the whole decoded log over hours and
#: OOM the worker — evict FIFO past the cap (dicts preserve insertion
#: order; a batch touches each slice once, so FIFO ≈ LRU here).
_REPLAY_CACHE: dict = {}
_REPLAY_CACHE_CAP = 8


class ParquetReplayTransport:
    """Replay a parquet events log as a JetStream stream. Lazy-opens in each
    task (the object that crosses the pickle boundary is just config)."""

    def __init__(self, path: str, stream: str):
        self.path = path
        self.stream = stream

    def _read(self, start_seq: int | None = None, end_seq: int | None = None):
        key = (self.path, self.stream, start_seq, end_seq)
        if key in _REPLAY_CACHE:
            return _REPLAY_CACHE[key]
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        # push the sequence range into the parquet read itself: row-group
        # statistics prune groups outside [start, end], so a partition's
        # task reads ~its slice of the FILE, not the whole file filtered
        # after the fact (measured: the whole-file read per task is what
        # capped fan-out speedup at 32 partitions, SCALING.md batch 10).
        # This mirrors the live transport, which fetches only its slice.
        preds = []
        if start_seq is not None:
            preds.append(pc.field("event_id") >= start_seq - 1)
        if end_seq is not None:
            preds.append(pc.field("event_id") <= end_seq - 1)
        flt = functools.reduce(operator.and_, preds) if preds else None
        t = pq.read_table(
            self.path,
            columns=["event_id", "ts", "user_id", "event_type", "props"],
            filters=flt,
        )
        # Normalize ts to int64 nanoseconds while still columnar — the parquet
        # flavor varies by writer (timestamp[us], timestamp[ns], raw int64 ns)
        # and to_pydict() would yield datetime.datetime for µs columns, which
        # the per-row loop must not have to special-case.
        ts_idx = t.schema.get_field_index("ts")
        ts_type = t.schema.field(ts_idx).type
        if pa.types.is_timestamp(ts_type):
            ns = pc.cast(pc.cast(t.column(ts_idx), pa.timestamp("ns")), pa.int64())
            t = t.set_column(ts_idx, "ts", ns)
        d = t.to_pydict()
        rows = {}
        for eid, ts_ns, uid, etype, props in zip(
            d["event_id"], d["ts"], d["user_id"], d["event_type"], d["props"]
        ):
            seq = int(eid) + 1  # sequences start at 1, like JetStream
            rows[seq] = (
                f"{self.stream}.{etype}.u{uid}",
                int(ts_ns),
                # binary props (e.g. protobuf-encoded logs) pass through;
                # string props encode like any NATS text payload
                props if isinstance(props, (bytes, bytearray)) else props.encode("utf-8"),
            )
        while len(_REPLAY_CACHE) >= _REPLAY_CACHE_CAP:
            _REPLAY_CACHE.pop(next(iter(_REPLAY_CACHE)))
        _REPLAY_CACHE[key] = rows
        return rows

    def stream_info(self) -> tuple[int, int]:
        import pyarrow.parquet as pq

        # min/max from parquet row-group statistics — no data read. The
        # event_id column is located BY NAME in the file schema: physical
        # column 0 is whatever the writer put first (a ts-first layout
        # would silently yield ~1e18 "sequences" here, and fetch()'s range
        # loop would hang on them).
        pf = pq.ParquetFile(self.path)
        # physical leaf order via path_in_schema, not arrow schema order
        idx = None
        if pf.metadata.num_row_groups:
            rg0 = pf.metadata.row_group(0)
            for i in range(rg0.num_columns):
                if rg0.column(i).path_in_schema == "event_id":
                    idx = i
                    break
        if idx is None and pf.metadata.num_row_groups:
            raise BindError(
                f"replay log {self.path!r} has no 'event_id' column"
            )
        lo, hi = None, None
        for rg in range(pf.metadata.num_row_groups):
            col = pf.metadata.row_group(rg).column(idx)
            if col.statistics is not None:
                s = col.statistics
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
        if lo is None:
            rows = self._read()
            if not rows:
                return (0, 0)
            return (min(rows), max(rows))
        return (int(lo) + 1, int(hi) + 1)

    def fetch(self, start_seq: int, end_seq: int) -> Iterator[tuple[int, str, int, bytes]]:
        """Yield (seq, subject, ts_ns, payload) for the inclusive range,
        skipping gaps."""
        rows = self._read(start_seq, end_seq)
        for seq in range(start_seq, end_seq + 1):
            msg = rows.get(seq)
            if msg is None:
                continue  # gap-skip (ref:src/nats_scan.cpp:725-729)
            yield (seq, msg[0], msg[1], msg[2])

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
        zero probe fetches (the binary search's distinct-slice probes
        also thrashed the FIFO slice cache — r10 ADVICE #4). Comparisons
        floor sub-µs precision exactly like read()'s ``ts_ns // 1000``,
        and a group missing statistics is conservatively included."""
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(self.path)
        md = pf.metadata
        if md.num_row_groups == 0:
            return (start, end)
        ts_i = eid_i = None
        rg0 = md.row_group(0)
        for i in range(rg0.num_columns):
            p = rg0.column(i).path_in_schema
            if p == "ts":
                ts_i = i
            elif p == "event_id":
                eid_i = i
        if ts_i is None or eid_i is None:
            return (start, end)

        def _us(v) -> int:
            # stats value → epoch µs, flooring like read()'s ns // 1000.
            # pyarrow yields datetime for timestamp logical types (already
            # truncated to µs) and int only for raw int64 ns columns.
            if isinstance(v, _dt.datetime):
                if v.tzinfo is not None:
                    v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                return (v - _EPOCH) // _dt.timedelta(microseconds=1)
            return int(v) // 1000

        s0 = s1 = None
        for rg in range(md.num_row_groups):
            ts_s = md.row_group(rg).column(ts_i).statistics
            eid_s = md.row_group(rg).column(eid_i).statistics
            if ts_s is not None and ts_s.has_min_max:
                if lo_us is not None and _us(ts_s.max) < lo_us:
                    continue
                if hi_us is not None and _us(ts_s.min) > hi_us:
                    continue
            if eid_s is None or not eid_s.has_min_max:
                return (start, end)  # can't bound this group — widen fully
            g0, g1 = int(eid_s.min) + 1, int(eid_s.max) + 1  # seq = eid + 1
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

    def fetch(self, start_seq: int, end_seq: int):
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

        return iter(
            self._run(_fetch(), f"fetch({start_seq}-{end_seq}) on '{self.stream}'")
        )


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
        n = max(1, min(self.n_partitions, end - start + 1))
        width = (end - start + 1 + n - 1) // n
        return [
            SeqRangePartition(s, min(s + width - 1, end))
            for s in range(start, end + 1, width)
        ]

    def read(self, partition: SeqRangePartition):
        """Yield Arrow RecordBatches (the DataSource fast path — per-row
        tuple yields cost ~10× in pickling) built vectorized from the
        transport's messages."""
        import pyarrow as pa

        transport = _make_transport(self.options)
        lo_us = _opt_ts_us(self.options.get("start_time"))
        hi_us = _opt_ts_us(self.options.get("end_time"))

        seqs: list[int] = []
        subjects: list[str] = []
        ts_us_l: list[int] = []
        payloads: list[bytes] = []
        for seq, subject, ts_ns, payload in transport.fetch(
            partition.start_seq, partition.end_seq
        ):
            if self.subject and self.subject not in subject:
                continue  # substring filter (ref:src/nats_scan.cpp:741-746)
            # a message without a timestamp header carries ts_nats NULL —
            # never epoch zero, which a start_time filter would silently
            # drop while unbounded scans showed a bogus 1970 timestamp
            ts_us = None if ts_ns is None else ts_ns // 1000
            if (lo_us is not None or hi_us is not None) and ts_us is None:
                continue  # SQL comparison-with-NULL semantics: excluded
            if lo_us is not None and ts_us < lo_us:
                continue
            if hi_us is not None and ts_us > hi_us:
                continue
            seqs.append(seq)
            subjects.append(subject)
            ts_us_l.append(ts_us)
            payloads.append(payload)

        if not seqs:
            return
        cols = [
            pa.array([self.stream] * len(seqs), pa.string()),
            pa.array(subjects, pa.string()),
            pa.array(seqs, pa.int64()),
            pa.array(ts_us_l, pa.timestamp("us")),
            pa.array(payloads, pa.binary()),
        ]
        yield pa.RecordBatch.from_arrays(cols, names=message_schema().names)


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
        # N contiguous slices per micro-batch — the same parallel-scan
        # upgrade the batch reader applies (the reference is single-threaded,
        # ref:src/nats_scan.cpp:197-199; its roadmap lists parallel scanning,
        # ref:docs/GUIDE.md:484-488). A catch-up batch over a long backlog
        # fans out instead of serializing through one task.
        lo, hi = start["seq"], end["seq"] - 1
        if hi < lo:
            return [SeqRangePartition(lo, hi)]
        n_parts = int(self.options.get("partitions", "8"))
        n = max(1, min(n_parts, hi - lo + 1))
        width = (hi - lo + 1 + n - 1) // n
        return [
            SeqRangePartition(s, min(s + width - 1, hi))
            for s in range(lo, hi + 1, width)
        ]

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
    spark.dataSource.register(NatsJetStreamDataSource)


def _names(v) -> list[str]:
    """A list parameter; a bare string is one name."""
    return [v] if isinstance(v, str) else list(v or [])


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
    parameters compose above it through the same transforms
    ``message_scan`` uses, so the JVM ``get_json_object`` is the one JSON
    extractor. Call :func:`register` on the session first.

    Bind rules (ref:src/nats_scan.cpp:267-285): JSON and proto together is
    an error; ``proto_extract`` needs ``proto_file`` and ``proto_message``;
    the ``.proto`` file is read here, driver-side, so workers never see
    its path."""
    json_fields = _names(json_extract)
    proto_paths = _names(proto_extract)
    require(
        not (json_fields and proto_paths),
        "Cannot use both json_extract and proto_extract parameters",
    )
    proto_text = None
    if proto_paths:
        require(
            bool(proto_file),
            "proto_file parameter is required when using proto_extract",
        )
        require(
            bool(proto_message),
            "proto_message parameter is required when using proto_extract",
        )
        with open(proto_file, encoding="utf-8") as fh:
            proto_text = fh.read()
    df = reader.format("nats_jetstream").options(stream=stream, **options).load()
    if json_fields:
        # payload is string in JSON mode (ref:src/nats_scan.cpp:379-391),
        # and get_json_object takes no BINARY
        df = df.withColumn("payload", F.col("payload").cast("string"))
        return _json_extract(df, json_fields)
    if proto_paths:
        return _proto_extract(df, proto_text, proto_message, proto_paths)
    return df
