"""Typed (protobuf-equivalent) payload extraction.

The reference parses a .proto at bind time, validates every requested dot
path by walking nested descriptors, and appends one *natively typed* column
per path, named with dots→underscores (ref:src/nats_scan.cpp:287-362 bind
validation; 396-409 schema; 456-544 reflection extraction). Unset nested
message → NULL (ref:src/nats_scan.cpp:487-499); undecodable payload → every
extracted column NULL (ref:src/nats_scan.cpp:852-858).

Spark mapping: a decoded payload is a *struct column*. Dot-path navigation,
typed results, and NULL-on-unset-parent are native struct semantics, so
``typed_extract`` is pure column projection — no UDF, fully codegen'd.

The decode front-end ``parse_json_payload`` produces the struct:
``from_json(payload, schema)`` for JSON payloads with a declared (bind-time)
schema — unparseable text → NULL struct → all-NULL extracted columns,
matching ref:src/nats_scan.cpp:852-858.

Path validation errors mirror the reference's bind errors
(ref:src/nats_scan.cpp:330-362): unknown field, or navigating *through* a
non-struct (scalar) field.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

from duckdb_nats_jetstream_spark.errors import BindError, require
from duckdb_nats_jetstream_spark.functions.json_extract import extracted_name


def validate_path(schema: T.StructType, path: str, message_name: str = "message") -> T.DataType:
    """Walk ``path`` through nested structs; return the leaf type.

    Mirrors the reference's bind-time descriptor walk
    (ref:src/nats_scan.cpp:94-127,330-362).
    """
    parts = path.split(".")
    current: T.DataType = schema
    walked: list[str] = []
    for i, part in enumerate(parts):
        if not isinstance(current, T.StructType):
            raise BindError(
                f"Cannot navigate into non-message field "
                f"'{'.'.join(walked)}' in path '{path}'"
            )
        names = {f.name: f.dataType for f in current.fields}
        if part not in names:
            scope = message_name if not walked else "'" + ".".join(walked) + "'"
            raise BindError(f"Field '{part}' not found in {scope} (path '{path}')")
        current = names[part]
        walked.append(part)
    return current


def typed_extract(
    df: DataFrame,
    paths: list[str],
    struct_col: str = "decoded",
    keep_struct: bool = False,
) -> DataFrame:
    """Append one typed column per dot path, named with underscores."""
    require(bool(paths), "typed_extract requires at least one path")
    schema = df.schema[struct_col].dataType
    if not isinstance(schema, T.StructType):
        raise BindError(f"Column '{struct_col}' is not a struct")
    for p in paths:
        validate_path(schema, p, message_name=struct_col)
    cols = [F.col(f"{struct_col}.{p}").alias(extracted_name(p)) for p in paths]
    base = [c for c in df.columns if keep_struct or c != struct_col]
    return df.select(*base, *cols)


def parse_json_payload(
    df: DataFrame,
    schema: T.StructType,
    payload_col: str = "payload",
    struct_col: str = "decoded",
) -> DataFrame:
    """Decode a JSON payload into a typed struct column at a *declared*
    schema (never inferred from data — the reference computes output schema
    at bind time, ref:src/nats_scan.cpp:365-409). Malformed payload → NULL
    struct (PERMISSIVE from_json), so every downstream extraction is NULL."""
    return df.withColumn(
        struct_col, F.from_json(F.col(payload_col).cast("string"), schema)
    )
