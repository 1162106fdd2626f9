"""Protocol Buffers payload extraction without external libraries.

The reference parses .proto schema text at bind time (runtime parsing, no
codegen — ref:src/nats_scan.cpp:287-363), then reflection-decodes each
message and walks dot paths to typed values (ref:src/nats_scan.cpp:456-544).
The usual Spark route is ``from_protobuf`` + a compiled descriptor set, but
neither spark-protobuf nor protoc is bundled here — so this module implements
the same capability with zero dependencies:

- a minimal .proto parser for the subset the reference supports: proto3
  messages, all 15 scalar wire types, nested messages, enums
  (ref:test/proto/telemetry.proto, test/proto/types_test.proto) — plus
  ``repeated`` (packed and unpacked), ``map<K,V>``, and ``oneof``, which the
  reference lists as unimplemented roadmap (ref:docs/GUIDE.md:466-472):
  repeated leaves extract as Spark arrays, maps as Spark maps;
- a proto wire-format decoder (varint / zigzag / fixed32 / fixed64 /
  length-delimited) and encoder (for tests and roundtrips);
- ``proto_extract``: bind-time path validation with the reference's error
  surface (unknown message, unknown field, navigating through a scalar —
  ref:src/nats_scan.cpp:316-362), typed output columns named with
  dots→underscores, Arrow-batched decode via mapInPandas.

Semantics preserved: enum columns carry the enum *name* (ref:src/nats_scan.
cpp:530-533); unset nested message → NULL (ref:487-499); undecodable payload
→ all-NULL row (ref:852-858); uint64 narrows to long (documented).
"""

from __future__ import annotations

import re
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, types as T

from duckdb_nats_jetstream_spark.errors import BindError, require_new_columns
from duckdb_nats_jetstream_spark.schema import PROTO_TO_SPARK

SCALARS = set(PROTO_TO_SPARK) - {"enum"}

_TOKEN = re.compile(
    r"message\s+(?P<msg>\w+)\s*\{|enum\s+(?P<enm>\w+)\s*\{|"
    r"(?P<oneof>oneof)\s+\w+\s*\{|\}|"
    r"map\s*<\s*(?P<mk>\w[\w.]*)\s*,\s*(?P<mv>\w[\w.]*)\s*>\s+(?P<mname>\w+)"
    r"\s*=\s*(?P<mnum>\d+)\s*(?:\[[^\]]*\])?\s*;|"
    r"(?P<label>repeated\s+|optional\s+|required\s+)?(?P<ftype>\w[\w.]*)\s+"
    r"(?P<fname>\w+)\s*=\s*(?P<fnum>\d+)\s*(?:\[[^\]]*\])?\s*;|"
    r"(?P<ename>\w+)\s*=\s*(?P<enum>\d+)\s*;"
)


class Descriptor:
    """One message type: fields by name and number. ``map_kv`` is set on the
    synthetic entry descriptor of a ``map<K,V>`` field (key=1, value=2 — the
    protobuf map wire representation)."""

    def __init__(self, name: str):
        self.name = name
        self.fields: dict[str, tuple[int, str, bool]] = {}  # name -> (number, type, repeated)
        self.by_number: dict[int, tuple[str, str, bool]] = {}
        self.map_kv: tuple[str, str] | None = None

    def add(self, fname: str, number: int, ftype: str, repeated: bool):
        self.fields[fname] = (number, ftype, repeated)
        self.by_number[number] = (fname, ftype, repeated)


def parse_proto(text: str) -> tuple[dict[str, Descriptor], dict[str, dict[int, str]]]:
    """Parse .proto text → ({message name: Descriptor}, {enum name: {num: name}}).

    Nested message/enum names are visible both bare and dotted
    (``Outer.Inner``), matching protobuf name resolution closely enough for
    the reference's schemas. Comments are stripped first."""
    text = re.sub(r"//[^\n]*", "", text)
    text = re.sub(r"/\*.*?\*/", "", text, flags=re.S)
    messages: dict[str, Descriptor] = {}
    enums: dict[str, dict[int, str]] = {}
    stack: list[tuple[str, object]] = []  # ("message", Descriptor) | ("enum", dict)
    for m in _TOKEN.finditer(text):
        if m.group("msg"):  # message X {
            name = m.group("msg")
            full = ".".join(
                [n for k, d in stack if k == "message" for n in [d.name.split(".")[-1]]]
                + [name]
            )
            d = Descriptor(full)
            messages[full] = d
            messages.setdefault(name, d)
            stack.append(("message", d))
        elif m.group("enm"):  # enum X {
            name = m.group("enm")
            e: dict[int, str] = {}
            enums[name] = e
            stack.append(("enum", e))
        elif m.group("oneof"):
            # oneof is a transparent scope: its fields belong to the
            # enclosing message (wire format is identical; last-set-wins is
            # native to our dict decode)
            if stack and stack[-1][0] == "message":
                stack.append(("message", stack[-1][1]))
            else:
                stack.append(("enum", {}))  # malformed placement; swallow
        elif m.group(0) == "}":
            if stack:
                stack.pop()
        elif m.group("mname"):  # map<K,V> field
            if not stack or stack[-1][0] != "message":
                continue
            ktype, vtype = m.group("mk"), m.group("mv")
            fname, num = m.group("mname"), int(m.group("mnum"))
            parent = stack[-1][1]
            entry = Descriptor(f"{parent.name}.{fname}$map_entry")
            entry.add("key", 1, ktype, False)
            entry.add("value", 2, vtype, False)
            entry.map_kv = (ktype, vtype)
            messages[entry.name] = entry
            parent.add(fname, num, entry.name, True)
        elif m.group("fname"):  # field
            if not stack or stack[-1][0] != "message":
                continue
            repeated = bool(m.group("label") and "repeated" in m.group("label"))
            ftype, fname, num = m.group("ftype"), m.group("fname"), int(m.group("fnum"))
            stack[-1][1].add(fname, num, ftype, repeated)
        elif m.group("ename"):  # enum value
            if stack and stack[-1][0] == "enum":
                stack[-1][1][int(m.group("enum"))] = m.group("ename")
    return messages, enums


# --- wire format --------------------------------------------------------------


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated varint")
        b = data[pos]
        result |= (b & 0x7F) << shift
        pos += 1
        if not (b & 0x80):
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _zigzag_decode(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _to_signed(v: int, bits: int) -> int:
    if v >= 1 << (bits - 1):
        v -= 1 << bits
    return v


_VARINT_TYPES = {"bool", "sint32", "sint64", "int32", "int64", "uint32", "uint64"}
_FIXED64_TYPES = {"double", "sfixed64", "fixed64"}
_FIXED32_TYPES = {"float", "sfixed32", "fixed32"}
_SKIP = object()  # wire/declared type mismatch sentinel


def _varint_value(ftype: str, raw: int, enums: dict):
    if ftype == "bool":
        return bool(raw)
    if ftype in ("sint32", "sint64"):
        return _zigzag_decode(raw)
    if ftype in ("int32", "int64"):
        return _to_signed(raw, 64)
    if ftype in ("uint32", "uint64"):
        return raw  # uint64 > 2^63-1 out of scope (long narrow)
    if ftype in enums:
        return enums[ftype].get(raw)
    return _SKIP


def _fixed64_value(ftype: str, chunk: bytes):
    if ftype == "double":
        return struct.unpack("<d", chunk)[0]
    if ftype == "sfixed64":
        return _to_signed(int.from_bytes(chunk, "little"), 64)
    if ftype == "fixed64":
        return int.from_bytes(chunk, "little")
    return _SKIP


def _fixed32_value(ftype: str, chunk: bytes):
    if ftype == "float":
        return struct.unpack("<f", chunk)[0]
    if ftype == "sfixed32":
        return _to_signed(int.from_bytes(chunk, "little"), 32)
    if ftype == "fixed32":
        return int.from_bytes(chunk, "little")
    return _SKIP


def _decode_packed(chunk: bytes, ftype: str, enums: dict) -> list:
    """Packed repeated scalars: the proto3 default encoding — one wire-2
    blob of back-to-back values with no per-element tags."""
    vals = []
    pos = 0
    if ftype in _VARINT_TYPES or ftype in enums:
        while pos < len(chunk):
            raw, pos = _read_varint(chunk, pos)
            vals.append(_varint_value(ftype, raw, enums))
    elif ftype in _FIXED64_TYPES:
        if len(chunk) % 8:
            raise ValueError("truncated packed fixed64")
        for pos in range(0, len(chunk), 8):
            vals.append(_fixed64_value(ftype, chunk[pos : pos + 8]))
    elif ftype in _FIXED32_TYPES:
        if len(chunk) % 4:
            raise ValueError("truncated packed fixed32")
        for pos in range(0, len(chunk), 4):
            vals.append(_fixed32_value(ftype, chunk[pos : pos + 4]))
    return vals


def _put(out: dict, name: str, repeated: bool, value):
    if value is _SKIP:
        # wire-type/declared-type mismatches are skipped as unknown fields
        # (assigning through the wire type would corrupt the typed output —
        # found by hypothesis)
        return
    if repeated:
        out.setdefault(name, []).append(value)
    else:
        out[name] = value


def decode_message(
    data: bytes,
    desc: Descriptor,
    messages: dict[str, Descriptor],
    enums: dict[str, dict[int, str]],
) -> dict:
    """Wire decode → python dict (enum → name string; nested → dict;
    repeated → list; map → dict; unknown field numbers skipped; raises
    ValueError on malformed input)."""
    out: dict = {}
    pos = 0
    while pos < len(data):
        tag, pos = _read_varint(data, pos)
        fnum, wire = tag >> 3, tag & 7
        field = desc.by_number.get(fnum)
        if wire == 0:
            raw, pos = _read_varint(data, pos)
            if field:
                name, ftype, rep = field
                _put(out, name, rep, _varint_value(ftype, raw, enums))
        elif wire == 1:
            if pos + 8 > len(data):
                raise ValueError("truncated fixed64")
            chunk = data[pos : pos + 8]
            pos += 8
            if field:
                name, ftype, rep = field
                _put(out, name, rep, _fixed64_value(ftype, chunk))
        elif wire == 2:
            ln, pos = _read_varint(data, pos)
            if pos + ln > len(data):
                raise ValueError("truncated length-delimited")
            chunk = data[pos : pos + ln]
            pos += ln
            if field:
                name, ftype, rep = field
                ent = messages.get(ftype)
                if ftype == "string":
                    _put(out, name, rep, chunk.decode("utf-8"))
                elif ftype == "bytes":
                    _put(out, name, rep, chunk)
                elif ent is not None and ent.map_kv is not None:
                    entry = decode_message(chunk, ent, messages, enums)
                    ktype, vtype = ent.map_kv
                    k = entry.get("key", _proto3_default(ktype, messages, enums))
                    v = entry.get("value", _proto3_default(vtype, messages, enums))
                    out.setdefault(name, {})[k] = v
                elif ent is not None:
                    _put(out, name, rep, decode_message(chunk, ent, messages, enums))
                elif rep and (ftype in _VARINT_TYPES or ftype in _FIXED64_TYPES
                              or ftype in _FIXED32_TYPES or ftype in enums):
                    for v in _decode_packed(chunk, ftype, enums):
                        _put(out, name, True, v)
        elif wire == 5:
            if pos + 4 > len(data):
                raise ValueError("truncated fixed32")
            chunk = data[pos : pos + 4]
            pos += 4
            if field:
                name, ftype, rep = field
                _put(out, name, rep, _fixed32_value(ftype, chunk))
        else:
            raise ValueError(f"unsupported wire type {wire}")
    return out


def _write_varint(v: int) -> bytes:
    if v < 0:
        v += 1 << 64
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _scalar_wire_payload(
    ftype: str, v, enums: dict[str, dict[int, str]]
) -> tuple[int, bytes]:
    """(wire type, untagged payload bytes) for one scalar value."""
    if ftype in ("int32", "int64", "uint32", "uint64", "bool"):
        return 0, _write_varint(int(v))
    if ftype in ("sint32", "sint64"):
        return 0, _write_varint((int(v) << 1) ^ (int(v) >> 63))
    if ftype in ("fixed64", "sfixed64"):
        return 1, int(v).to_bytes(8, "little", signed=v < 0)
    if ftype == "double":
        return 1, struct.pack("<d", float(v))
    if ftype == "string":
        b = str(v).encode("utf-8")
        return 2, _write_varint(len(b)) + b
    if ftype == "bytes":
        return 2, _write_varint(len(v)) + bytes(v)
    if ftype in ("fixed32", "sfixed32"):
        return 5, int(v).to_bytes(4, "little", signed=v < 0)
    if ftype == "float":
        return 5, struct.pack("<f", float(v))
    if ftype in enums:
        rev = {n: k for k, n in enums[ftype].items()}
        return 0, _write_varint(rev[v])
    raise BindError(f"cannot encode field type {ftype}")


def encode_message(
    values: dict,
    desc: Descriptor,
    messages: dict[str, Descriptor],
    enums: dict[str, dict[int, str]],
) -> bytes:
    """Deterministic encoder (fields in number order; map keys sorted;
    repeated numerics packed) — for tests/roundtrips."""
    out = bytearray()
    for num in sorted(desc.by_number):
        name, ftype, rep = desc.by_number[num]
        if name not in values or values[name] is None:
            continue
        v = values[name]
        ent = messages.get(ftype)
        if ent is not None and ent.map_kv is not None:
            ktype, vtype = ent.map_kv
            for k in sorted(v):
                b = encode_message(
                    {"key": k, "value": v[k]}, ent, messages, enums
                )
                out += _write_varint((num << 3) | 2) + _write_varint(len(b)) + b
        elif rep:
            if ent is not None:  # repeated nested message: one tag per element
                for item in v:
                    b = encode_message(item, ent, messages, enums)
                    out += _write_varint((num << 3) | 2) + _write_varint(len(b)) + b
            elif ftype in ("string", "bytes"):  # never packed
                for item in v:
                    _w, payload = _scalar_wire_payload(ftype, item, enums)
                    out += _write_varint((num << 3) | 2) + payload
            else:  # packed numerics/bools/enums (proto3 default)
                body = b"".join(
                    _scalar_wire_payload(ftype, item, enums)[1] for item in v
                )
                if body:
                    out += _write_varint((num << 3) | 2) + _write_varint(len(body)) + body
        elif ent is not None:
            b = encode_message(v, ent, messages, enums)
            out += _write_varint((num << 3) | 2) + _write_varint(len(b)) + b
        else:
            wire, payload = _scalar_wire_payload(ftype, v, enums)
            out += _write_varint((num << 3) | wire) + payload
    return bytes(out)


# --- bind-time schema / validation --------------------------------------------


def _proto3_default(
    ftype: str,
    messages: dict[str, Descriptor],
    enums: dict[str, dict[int, str]],
):
    """proto3 default for an absent scalar (what reference reflection reads,
    ref:src/nats_scan.cpp:456-544). Messages default to None."""
    if ftype == "string":
        return ""
    if ftype == "bytes":
        return b""
    if ftype == "bool":
        return False
    if ftype in ("float", "double"):
        return 0.0
    if ftype in enums:
        return enums[ftype].get(0)
    if ftype in messages:
        return None
    return 0  # all integer types


def _leaf_spark_type(
    ftype: str, enums: dict[str, dict[int, str]]
) -> T.DataType | None:
    if ftype in SCALARS:
        return PROTO_TO_SPARK[ftype]
    if ftype in enums:
        return PROTO_TO_SPARK["enum"]
    return None


def validate_proto_path(
    path: str,
    msg: Descriptor,
    messages: dict[str, Descriptor],
    enums: dict[str, dict[int, str]],
) -> T.DataType:
    """Walk a dot path through nested message descriptors; return the Spark
    type. Errors mirror ref:src/nats_scan.cpp:330-362."""
    parts = path.split(".")
    cur = msg
    for i, part in enumerate(parts):
        if part not in cur.fields:
            raise BindError(
                f"Field '{part}' not found in message '{cur.name}' (path '{path}')"
            )
        _num, ftype, rep = cur.fields[part]
        ent = messages.get(ftype)
        is_map = ent is not None and ent.map_kv is not None
        last = i == len(parts) - 1
        if last:
            if is_map:
                ktype, vtype = ent.map_kv
                kt = _leaf_spark_type(ktype, enums)
                vt = _leaf_spark_type(vtype, enums)
                if vt is None:
                    raise BindError(
                        f"map field '{part}' has message values "
                        f"({vtype}); extract a scalar-valued map instead"
                    )
                # valueContainsNull stays True: an unknown enum number
                # decodes to a NULL name
                return T.MapType(kt, vt)
            t = _leaf_spark_type(ftype, enums)
            if t is None:
                if rep:
                    raise BindError(
                        f"repeated message field '{part}' is not extractable "
                        f"as a leaf (path '{path}'); extract scalar paths"
                    )
                # terminal nested message → reference maps to VARCHAR w/ NULL
                # values (ref:src/nats_scan.cpp:159-161,534-536)
                return T.StringType()
            return T.ArrayType(t) if rep else t
        if rep or is_map:
            raise BindError(
                f"Cannot navigate through {'map' if is_map else 'repeated'} "
                f"field '{part}' in path '{path}'"
            )
        if ftype not in messages:
            raise BindError(
                f"Cannot navigate through non-message field '{part}' "
                f"(type {ftype}) in path '{path}'"
            )
        cur = messages[ftype]
    raise BindError(f"empty path '{path}'")


def path_extractor(proto_text: str, message_name: str, paths: list[str]):
    """Bind-time-validated typed path extraction kernel, shared by the
    DataFrame operator (:func:`proto_extract`, which ``nats_scan``'s proto
    parameters also go through) and the codec round-trip queries in
    ``queries/stream.py``. Returns ``(out_names, spark_types, extract)``
    where ``extract(payload: bytes | None) -> list`` yields one
    value per path with the reference's reflection semantics
    (ref:src/nats_scan.cpp:456-544): an absent *scalar* reads as its proto3
    default; NULL only when an ancestor nested message is unset (ref:
    487-499), the leaf is itself a singular message (ref:534-536), or the
    payload is undecodable (ref:852-858). Absent repeated → []; absent
    map → {}."""
    if not paths:
        raise BindError("proto_extract requires at least one field path")
    messages, enums = parse_proto(proto_text)
    if message_name not in messages:
        raise BindError(f"Message type '{message_name}' not found in proto schema")
    desc = messages[message_name]
    types = [validate_proto_path(p, desc, messages, enums) for p in paths]
    out_names = [p.replace(".", "_") for p in paths]

    # Precompute each path's leaf default and whether the leaf is a terminal
    # (non-map) message — a runtime isinstance(dict) check can't tell a map
    # value from a nested-message dict.
    defaults = []
    leaf_is_msg = []
    for p in paths:
        cur = desc
        dval = None
        is_msg = False
        parts_p = p.split(".")
        for i, part in enumerate(parts_p):
            _num, ftype, rep = cur.fields[part]
            if i == len(parts_p) - 1:
                ent = messages.get(ftype)
                if ent is not None and ent.map_kv is not None:
                    dval = {}
                elif rep:
                    dval = []
                elif ent is not None:
                    is_msg = True  # terminal message → always NULL
                else:
                    dval = _proto3_default(ftype, messages, enums)
            else:
                cur = messages[ftype]
        defaults.append(dval)
        leaf_is_msg.append(is_msg)

    def extract(payload):
        if payload is None:
            return [None] * len(paths)
        try:
            msg = decode_message(bytes(payload), desc, messages, enums)
        except (ValueError, UnicodeDecodeError):
            return [None] * len(paths)  # undecodable → all-NULL
        row = []
        for p, dval, is_msg in zip(paths, defaults, leaf_is_msg):
            node = msg
            unset_parent = False
            parts = p.split(".")
            for part in parts[:-1]:
                node = node.get(part) if isinstance(node, dict) else None
                if node is None:
                    unset_parent = True
                    break
            if unset_parent or is_msg:
                row.append(None)  # unset ancestor / terminal message
                continue
            leaf = node.get(parts[-1]) if isinstance(node, dict) else None
            row.append(dval if leaf is None else leaf)
        return row

    return out_names, types, extract


def proto_extract(
    df: DataFrame,
    proto_text: str,
    message_name: str,
    paths: list[str],
    payload_col: str = "payload",
) -> DataFrame:
    """Append one natively-typed column per dot path (dots→underscores),
    decoded from a protobuf payload column. Bind-time schema: validated
    against the .proto before any job is submitted."""
    out_names, types, extract = path_extractor(proto_text, message_name, paths)
    require_new_columns(df.columns, out_names, "proto_extract")

    in_fields = df.schema.fields
    out_schema = T.StructType(
        list(in_fields) + [T.StructField(n, t, True) for n, t in zip(out_names, types)]
    )

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            extracted = [extract(v) for v in pdf[payload_col]]
            for i, name in enumerate(out_names):
                pdf[name] = [r[i] for r in extracted]
            yield pdf

    return df.mapInPandas(batches, out_schema)
