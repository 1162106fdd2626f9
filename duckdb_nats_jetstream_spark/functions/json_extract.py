"""JSON payload field extraction — the Spark equivalent of the reference's
``json_extract := [...]`` path (ref:src/nats_scan.cpp:777-830).

Reference semantics, preserved:

- one appended **string** column per requested field ("JSON fields are
  extracted as VARCHAR and require explicit casting",
  ref:docs/EXAMPLES.md:107; schema at ref:src/nats_scan.cpp:388-391);
- string → as-is; bool → "true"/"false"; JSON null → SQL NULL; nested
  object/array → re-serialized compact JSON text; missing key → NULL;
  unparseable payload → NULL for every extracted column
  (ref:src/nats_scan.cpp:792-829);

Deliberate upgrades (documented divergences):

- **real dot-paths**: the reference's docs advertise nested extraction
  (ref:docs/EXAMPLES.md:79-86) but the code does a flat top-level key lookup
  (``yyjson_obj_get``, ref:src/nats_scan.cpp:787). We implement what the docs
  promise: ``a.b.c`` navigates nested objects. Column naming follows the
  protobuf convention — dots become underscores (ref:src/nats_scan.cpp:
  396-399) — so extracted columns are always valid identifiers.
- numbers extract as their JSON literal text, not C++
  ``std::to_string(double)`` formatting ("42.500000",
  ref:src/nats_scan.cpp:799-800).

Implementation: ``get_json_object`` — a built-in JVM expression inside
whole-stage codegen; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from duckdb_nats_jetstream_spark.errors import require, require_new_columns


def json_path_col(payload: Column | str, path: str) -> Column:
    """One extracted field as a string Column (dot-path aware)."""
    require(bool(path), "json_extract field names must be non-empty")
    c = F.col(payload) if isinstance(payload, str) else payload
    return F.get_json_object(c, "$." + path)


def extracted_name(path: str) -> str:
    """Column name for an extraction path: dots → underscores
    (ref:src/nats_scan.cpp:396-399)."""
    return path.replace(".", "_")


def json_extract(df: DataFrame, fields: list[str], payload_col: str = "payload") -> DataFrame:
    """Append one string column per requested field. Bind-time checked:
    the output names are distinct and shadow no column of ``df``."""
    require(bool(fields), "json_extract requires at least one field")
    names = [extracted_name(f) for f in fields]
    require_new_columns(df.columns, names, "json_extract")
    cols = [json_path_col(payload_col, f).alias(n) for f, n in zip(fields, names)]
    return df.select("*", *cols)
