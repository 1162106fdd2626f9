"""Schemas and type maps.

Base message schema (ref:src/nats_scan.cpp:365-385; docs/GUIDE.md:112):
``stream, subject, seq, ts_nats, payload`` — fixed, never inferred from
data. It is the ``nats_jetstream`` source's schema, and every scan's:
``message_scan``, ``message_stream`` and ``nats_scan`` apply the
reference's scan parameters above it in one function
(``sources.message_scan.apply_scan_parameters``), which turns payload to
string in JSON mode only (ref:src/nats_scan.cpp:379-385).

Protobuf/typed-field → Spark type map (ref:src/nats_scan.cpp:130-166):
Spark has no unsigned integers, so uint32→long (lossless) and uint64→long
(documented narrowing; values > 2^63-1 out of scope).
"""

from __future__ import annotations

from pyspark.sql import types as T

BASE_FIELDS = [
    ("stream", T.StringType()),
    ("subject", T.StringType()),
    ("seq", T.LongType()),
    ("ts_nats", T.TimestampType()),
    ("payload", T.BinaryType()),
]


def message_schema() -> T.StructType:
    """The five base message columns."""
    return T.StructType([T.StructField(n, t, True) for n, t in BASE_FIELDS])


# protobuf scalar type name → Spark type (ref:src/nats_scan.cpp:130-166)
PROTO_TO_SPARK: dict[str, T.DataType] = {
    "string": T.StringType(),
    "bytes": T.BinaryType(),
    "int32": T.IntegerType(),
    "sint32": T.IntegerType(),
    "sfixed32": T.IntegerType(),
    "int64": T.LongType(),
    "sint64": T.LongType(),
    "sfixed64": T.LongType(),
    "uint32": T.LongType(),  # no unsigned in Spark; lossless widening
    "fixed32": T.LongType(),
    "uint64": T.LongType(),  # documented narrowing for values > 2^63-1
    "fixed64": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bool": T.BooleanType(),
    "enum": T.StringType(),  # enum *name*, not number (ref:src/nats_scan.cpp:530-533)
}
