"""``message_scan`` — the Spark-native equivalent of the reference's
``nats_scan`` table function (ref:src/nats_scan.cpp:879-897; parameter table
ref:docs/GUIDE.md:418-432).

The reference scans one JetStream stream as a table: five fixed metadata
columns per message, sequence-range / timestamp-range pushdown, subject
substring filtering, then JSON or typed payload extraction. Here the durable
message log is a parquet table (the driver's ``events`` table plays the
stream), and the scan is a declarative DataFrame read so Catalyst pushes the
range predicates into the parquet scan (row-group min/max pruning replaces the
reference's broker binary search, ref:src/nats_scan.cpp:546-595 — same
O(skip-the-irrelevant-data) effect, but distributed and parallel instead of
the reference's single-threaded per-message fetch loop,
ref:src/nats_scan.cpp:197-199).

Semantics preserved (and one deliberately not):

- ``start_seq``/``end_seq`` are *inclusive* bounds (ref:src/nats_scan.cpp:
  234-237,703-713).
- ``subject`` is a *substring* match, not NATS wildcards (ref:src/nats_scan.
  cpp:741-746; docs/GUIDE.md:404).
- seq and time ranges are mutually exclusive (ref:src/nats_scan.cpp:267-270).
- ``start_time`` means first message with ts >= start_time. The reference's
  ``end_time`` wart — including one message *after* the bound when nothing
  falls exactly on it (ref:src/nats_scan.cpp:685-698) — is intentionally NOT
  replicated; we use the clean predicate ``ts_nats <= end_time``.
- payload is string in JSON-extraction mode, binary otherwise
  (ref:src/nats_scan.cpp:379-385).

Stream-log mapping of the driver's ``events`` table (FIXTURES.md):
``event_id``→``seq`` (shifted +1 so sequences start at 1 like JetStream),
``ts``→``ts_nats``, subject = ``events.<event_type>.u<user_id>`` (hierarchical
dotted token), ``props``→payload.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from duckdb_nats_jetstream_spark.errors import require
from duckdb_nats_jetstream_spark.functions.json_extract import json_extract
from duckdb_nats_jetstream_spark.tables import canonical_ts, read_parquet, table_path

#: DuckDB-oracle equivalent of the events→message-log mapping. Kept here as
#: the single source of truth; every oracle SQL that scans the stream embeds
#: this CTE so Spark and DuckDB agree byte-for-byte on the mapping.
EVENTS_ORACLE_SCAN_SQL = (
    "SELECT 'events' AS stream, "
    "'events.' || event_type || '.u' || CAST(user_id AS VARCHAR) AS subject, "
    "event_id + 1 AS seq, "
    "CAST(ts AS TIMESTAMP) AS ts_nats, "  # ns→µs truncation, matches Spark read
    "props AS payload "
    "FROM events"
)


def message_projection(stream: str, ts_nats):
    """The Spark half of the events→message mapping (subject scheme,
    ``seq = event_id + 1``, ``props``→payload) — shared by the batch scan
    below AND the streaming scan (``streaming/stream_scan.message_stream``)
    so the two can never drift from each other or from the oracle CTE
    above: the mapping IS the cross-engine contract, and a change applied
    to one copy but not the other would make batch and streaming operators
    disagree on the same log while each path's own tests stay green."""
    return [
        F.lit(stream).alias("stream"),
        F.concat(
            F.lit(f"{stream}."),
            F.col("event_type"),
            F.lit(".u"),
            F.col("user_id").cast("string"),
        ).alias("subject"),
        (F.col("event_id") + F.lit(1)).cast("long").alias("seq"),
        ts_nats.alias("ts_nats"),
        F.col("props").alias("payload"),
    ]


def _names(v) -> list[str]:
    """A list parameter; a bare string is one name."""
    return [v] if isinstance(v, str) else list(v or [])


def _payload_as(df: DataFrame, dtype: T.DataType) -> DataFrame:
    if df.schema["payload"].dataType == dtype:
        return df
    return df.withColumn("payload", F.col("payload").cast(dtype))


def apply_scan_parameters(
    read,
    *,
    subject: str | None = None,
    subject_pattern: str | None = None,
    json_fields=None,
    proto_file: str | None = None,
    proto_message: str | None = None,
    proto_paths=None,
    payload_binary: bool | None = None,
) -> DataFrame:
    """The reference's post-scan parameters over the five base columns that
    ``read()`` returns — one definition for ``message_scan``,
    ``message_stream`` and ``nats_scan``, so every scan gives one schema and
    one result for one log. The parameters bind before ``read()`` runs
    (ref:src/nats_scan.cpp:267-285), JSON with proto before the ``.proto``
    file is read; then ``subject`` substring (ref:src/nats_scan.cpp:741-746),
    NATS wildcard ``subject_pattern``, JSON or proto extraction (a bare
    string is one name), and the payload mode: string in JSON mode, binary
    otherwise (ref:src/nats_scan.cpp:379-385), unless ``payload_binary``
    says which."""
    fields, paths = _names(json_fields), _names(proto_paths)
    require(
        not (fields and paths),
        "Cannot use both json_extract and proto_extract parameters",
    )
    regex = None if subject_pattern is None else nats_wildcard_regex(subject_pattern)
    if paths:
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
    df = read()
    if subject is not None:
        df = df.filter(F.col("subject").contains(subject))
    if regex is not None:
        df = df.filter(F.col("subject").rlike(regex))
    if fields:
        # get_json_object takes no BINARY
        df = json_extract(_payload_as(df, T.StringType()), fields)
    elif paths:
        from duckdb_nats_jetstream_spark.functions.proto import proto_extract

        df = proto_extract(df, proto_text, proto_message, paths)
    binary = not fields if payload_binary is None else payload_binary
    return _payload_as(df, T.BinaryType() if binary else T.StringType())


def _as_timestamp(v) -> _dt.datetime:
    if isinstance(v, str):
        return _dt.datetime.fromisoformat(v)
    return v


_EPOCH = _dt.datetime(1970, 1, 1)


def _micros(t: _dt.datetime) -> int:
    # 'Z'/offset-aware values normalize to UTC (naive IS UTC here):
    # aware - naive raises TypeError, and Z-suffixed ISO strings are the
    # natural format next to NATS' RFC3339 timestamps
    if t.tzinfo is not None:
        t = t.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return (t - _EPOCH) // _dt.timedelta(microseconds=1)


def _first_ns(t_us: int) -> int:
    """The least ns instant whose µs truncation toward zero is >= ``t_us``:
    below the epoch a µs holds the 999 ns before it, not after."""
    return t_us * 1000 if t_us > 0 else (t_us - 1) * 1000 + 1


def register_scan_view(
    spark: SparkSession,
    sf_dir: str,
    view_name: str = "nats_scan",
    stream: str = "events",
    **scan_kwargs,
) -> None:
    """SQL-first UX parity with the reference: where its users write
    ``SELECT ... FROM nats_scan('events', start_seq := 100)``, Spark users
    register the parameterized scan once as a temp view and query it with
    plain SQL — same bind-time validation, same pushdown (the view is the
    lazy DataFrame plan, so Catalyst still sees filters through it)."""
    message_scan(spark, sf_dir, stream, **scan_kwargs).createOrReplaceTempView(
        view_name
    )


def nats_wildcard_regex(pattern: str) -> str:
    """Translate a NATS subject wildcard pattern to an anchored regex:
    tokens are dot-separated; ``*`` matches exactly one token; ``>`` (last
    token only) matches one or more trailing tokens. Bind-time validation
    of malformed patterns mirrors the reference's error discipline. The
    emitted regex uses only syntax with identical Java-regex/RE2 semantics,
    so the DuckDB oracle can run the same pattern."""
    import re as _re

    require(bool(pattern), "empty subject pattern")
    tokens = pattern.split(".")
    parts: list[str] = []
    for i, tok in enumerate(tokens):
        require(bool(tok), f"empty token in subject pattern '{pattern}'")
        if tok == ">":
            require(
                i == len(tokens) - 1,
                f"'>' must be the last token in subject pattern '{pattern}'",
            )
            parts.append("[^.]+(\\.[^.]+)*")
        elif tok == "*":
            parts.append("[^.]+")
        else:
            require(
                "*" not in tok and ">" not in tok,
                f"wildcard must be a whole token in subject pattern '{pattern}'",
            )
            parts.append(_re.escape(tok))
    return "^" + "\\.".join(parts) + "$"


def message_scan(
    spark: SparkSession,
    sf_dir: str,
    stream: str = "events",
    *,
    subject: str | None = None,
    subject_pattern: str | None = None,
    start_seq: int | None = None,
    end_seq: int | None = None,
    start_time=None,
    end_time=None,
    end_time_compat: bool = False,
    json_fields: list[str] | None = None,
    payload_binary: bool | None = None,
) -> DataFrame:
    """Scan the message log as a DataFrame with the fixed base schema plus
    optional JSON-extraction columns.

    Bind-time validation mirrors ref:src/nats_scan.cpp:207-285.

    ``subject`` is the reference's substring filter; ``subject_pattern``
    adds real NATS wildcard matching (``*`` one token, ``>`` tail — the
    GUIDE's syntax the reference doesn't implement).

    ``end_time_compat=True`` replicates the reference's end_time WART
    byte-for-byte: end_time resolves (binary search,
    ref:src/nats_scan.cpp:546-595,684-698) to the sequence of the FIRST
    message with ts >= end_time and that bound is INCLUSIVE — so one
    message at-or-after the cut makes it into the result. Default stays
    the clean predicate ``ts_nats <= end_time``.
    """
    require(bool(stream), "nats_scan requires a stream name")

    def read() -> DataFrame:
        has_seq = start_seq is not None or end_seq is not None
        has_time = start_time is not None or end_time is not None
        require(
            not (has_seq and has_time),
            "Cannot specify both sequence range (start_seq/end_seq) and "
            "time range (start_time/end_time)",
        )
        # Read the raw log and apply range predicates on the *stored* columns so
        # they reach the parquet scan as PushedFilters (row-group min/max pruning
        # — the distributed analogue of the reference's cursor bounds + broker
        # binary search). Filtering on derived columns (seq = event_id+1, the
        # ns→µs timestamp conversion) would defeat pushdown, which at 100 TB is
        # the difference between scanning one row group and scanning the table.
        ev = read_parquet(spark, table_path(sf_dir, "events"))
        ts_type = ev.schema["ts"].dataType
        ts_raw_ns = isinstance(ts_type, T.LongType)
        ts_ntz = isinstance(ts_type, T.TimestampNTZType)

        def _ts_literal(t: _dt.datetime):
            # Literal typed to match the *stored* column so the comparison stays a
            # plain pushable predicate: an implicit NTZ↔LTZ coercion would route
            # through the session time zone and (a) silently depend on it, (b) can
            # defeat parquet filter pushdown. The LTZ literal is built from a naive
            # datetime interpreted in the session zone, so casting it back to NTZ
            # round-trips to the original wall-clock value in ANY session zone.
            lit = F.lit(t)
            return lit.cast("timestamp_ntz") if ts_ntz else lit

        if start_seq is not None:
            ev = ev.filter(F.col("event_id") >= F.lit(int(start_seq) - 1))
        if end_seq is not None:
            ev = ev.filter(F.col("event_id") <= F.lit(int(end_seq) - 1))
        # Time bounds at µs granularity (ts_nats is µs-truncated toward zero, the
        # same ns→µs narrowing the reference does at ref:src/nats_scan.cpp:749):
        # µs-trunc(x) >= t0  ⟺  x_ns >= _first_ns(t0µs);
        # µs-trunc(x) <= t1  ⟺  x_ns <  _first_ns(t1µs+1).
        if start_time is not None:
            t0 = _as_timestamp(start_time)
            bound = F.lit(_first_ns(_micros(t0))) if ts_raw_ns else _ts_literal(t0)
            ev = ev.filter(F.col("ts") >= bound)
        if end_time is not None:
            t1 = _as_timestamp(end_time)
            if end_time_compat:
                # Reference wart: resolve end_time to the FIRST message with
                # ts >= end_time over the whole stream; that sequence is an
                # INCLUSIVE end bound (ref:src/nats_scan.cpp:684-698 — the
                # binary search finds at-or-after, and the cursor runs through
                # it). One extra tiny aggregate over the pushed-down ts filter,
                # broadcast as a 1-row bound — the distributed stand-in for the
                # reference's driver-side resolution.
                raw = read_parquet(spark, table_path(sf_dir, "events"))
                at_or_after = (
                    F.col("ts") >= F.lit(_first_ns(_micros(t1)))
                    if ts_raw_ns
                    else F.col("ts") >= _ts_literal(t1)
                )
                bound = raw.filter(at_or_after).agg(F.min("event_id").alias("__b"))
                ev = (
                    ev.crossJoin(F.broadcast(bound))
                    .filter(F.col("__b").isNull() | (F.col("event_id") <= F.col("__b")))
                    .drop("__b")
                )
            elif ts_raw_ns:
                ev = ev.filter(F.col("ts") < F.lit(_first_ns(_micros(t1) + 1)))
            else:
                ev = ev.filter(F.col("ts") <= _ts_literal(t1))
        # Canonicalize ts to TimestampType AFTER the pushdown filters above,
        # so the range predicates reach the parquet scan on the stored column
        # while every consumer sees one timestamp flavor (schema.py
        # BASE_FIELDS).
        return ev.select(*message_projection(stream, canonical_ts("ts", ts_type)))

    return apply_scan_parameters(
        read,
        subject=subject,
        subject_pattern=subject_pattern,
        json_fields=json_fields,
        payload_binary=payload_binary,
    )
