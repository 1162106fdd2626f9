"""JSON extraction NULL/coercion semantics (reference §2.A5,
test_json_extraction.sql ports) against controlled in-memory payloads."""

from __future__ import annotations

import pytest

from pyspark.sql import Row, functions as F

from duckdb_nats_jetstream_spark.errors import BindError
from duckdb_nats_jetstream_spark.functions import json_extract


@pytest.fixture(scope="module")
def payloads(spark):
    rows = [
        Row(id=1, payload='{"a": "x", "n": 42, "f": 42.5, "b": true, "z": null}'),
        Row(id=2, payload='{"a": "y"}'),                    # missing keys
        Row(id=3, payload='not json at all'),                # unparseable
        Row(id=4, payload='{"o": {"in": 7}, "arr": [1,2]}'),  # nested/array
        Row(id=5, payload=None),                              # null payload
    ]
    return spark.createDataFrame(rows)


def test_string_as_is(spark, payloads):
    out = {r.id: r.a for r in json_extract(payloads, ["a"]).collect()}
    assert out[1] == "x" and out[2] == "y"


def test_number_is_json_literal_text(spark, payloads):
    out = {r.id: (r.n, r.f) for r in json_extract(payloads, ["n", "f"]).collect()}
    assert out[1] == ("42", "42.5")  # not C++ "42.500000"


def test_bool_true_false(spark, payloads):
    out = {r.id: r.b for r in json_extract(payloads, ["b"]).collect()}
    assert out[1] == "true"


def test_json_null_and_missing_are_sql_null(spark, payloads):
    df = json_extract(payloads, ["z", "nope"])
    row = {r.id: (r.z, r.nope) for r in df.collect()}
    assert row[1] == (None, None)
    assert row[2] == (None, None)


def test_unparseable_payload_all_null(spark, payloads):
    df = json_extract(payloads, ["a", "n"])
    row = {r.id: (r.a, r.n) for r in df.collect()}
    assert row[3] == (None, None)
    assert row[5] == (None, None)


def test_nested_object_reserialized(spark, payloads):
    out = {r.id: (r.o, r.arr) for r in json_extract(payloads, ["o", "arr"]).collect()}
    assert out[4] == ('{"in":7}', "[1,2]")


def test_dot_path_navigation(spark, payloads):
    # docs-promised nested path (ref docs/EXAMPLES.md:79-86), dots→underscores
    df = json_extract(payloads, ["o.in"])
    assert "o_in" in df.columns
    out = {r.id: r.o_in for r in df.collect()}
    assert out[4] == "7" and out[1] is None


def test_cast_to_double(spark, payloads):
    df = json_extract(payloads, ["f"]).withColumn("fd", F.col("f").cast("double"))
    out = {r.id: r.fd for r in df.collect()}
    assert out[1] == 42.5


def test_empty_fields_is_bind_error(spark, payloads):
    with pytest.raises(BindError):
        json_extract(payloads, [])


def test_output_name_collision_and_duplicates_are_bind_errors(spark, payloads):
    with pytest.raises(BindError, match="collide"):
        json_extract(payloads, ["id"])
    with pytest.raises(BindError, match="duplicate"):
        json_extract(payloads, ["o.in", "o_in"])
