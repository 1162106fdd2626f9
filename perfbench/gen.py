"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes parquet atomically (a temporary name, then
``os.replace``), so the same seed gives byte-identical files and a reader
never sees a half-written file. The program under test receives only these
files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The message-log schema the package maps to messages (``message_scan``):
#: ``event_id``→seq−1, ``ts``→ts_nats, ``events.<event_type>.u<user_id>``
#: →subject, ``props``→payload.
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENT_TYPE_P = [0.5, 0.25, 0.1, 0.05, 0.1]
JAN_2024_US = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
_MONTH_US = 31 * 86_400 * 1_000_000

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64


def write_atomic(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp, row_group_size=row_group_size)
    os.replace(tmp, path)


def _events_table(rng, n, users, first_id, ts_us, props_k=None) -> pa.Table:
    event_type = np.array(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)]
    user_id = rng.integers(0, users, n)
    value = np.round(rng.uniform(0, 200, n), 2)
    k = rng.integers(0, 100, n) if props_k is None else props_k
    return pa.table(
        {
            "event_id": pa.array(first_id + np.arange(n), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": pa.array(event_type, pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {int(v)}}}' for v in k], pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


def message_log(rng, out_dir: str, rows: int, users: int, row_group: int) -> pa.Table:
    """The ``log_scan`` message log: ``rows`` messages with ts sorted over
    January 2024, users drawn uniformly (bounded per-user fan-out), and
    ``{"k": int}`` payloads, written as ``events.parquet`` in row groups of
    ``row_group`` rows so sequence and time ranges can prune."""
    ts = np.sort(rng.integers(JAN_2024_US, JAN_2024_US + _MONTH_US, rows))
    t = _events_table(rng, rows, users, 0, ts)
    os.makedirs(out_dir, exist_ok=True)
    write_atomic(t, os.path.join(out_dir, "events.parquet"), row_group)
    return t


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


#: ``Props`` as protobuf: field 1, wire type 0 (varint) — tag byte 0x08.
PROPS_PROTO = 'syntax = "proto3";\nmessage Props { int64 k = 1; }\n'


def proto_log(log: pa.Table, out_dir: str, row_group: int) -> None:
    """The same log with each ``{"k": v}`` payload re-encoded as a
    ``Props`` protobuf message, for the proto-decode probe."""
    ks = [int(p[6:-1]) for p in log.column("props").to_pylist()]
    payload = pa.array([b"\x08" + _varint(k) if k else b"" for k in ks], pa.binary())
    t = log.set_column(log.schema.get_field_index("props"), "props", payload)
    os.makedirs(out_dir, exist_ok=True)
    write_atomic(t, os.path.join(out_dir, "events.parquet"), row_group)


def curation_tables(rng, out_dir: str, docs: int, vectors: int, dup_share: float) -> None:
    """``documents`` and ``embeddings`` shaped like the package's LLM-curation
    fixtures: 10–99 word texts over a 30-word vocabulary, a ``dup_share`` of
    near-duplicates (an earlier text plus `` dup``), 20 sources, 5 languages,
    and unit-norm 64-d embeddings with 10 labels."""
    texts: list[str] = []
    for i in range(docs):
        if i > 0 and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)]))
    lang = np.array(LANGS)[rng.choice(len(LANGS), docs, p=LANG_P)]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.standard_normal((vectors, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(vectors), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, vectors), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    write_atomic(documents, os.path.join(out_dir, "documents.parquet"))
    write_atomic(embeddings, os.path.join(out_dir, "embeddings.parquet"))


def stream_chunk(
    rng, log_dir: str, index: int, msgs: int, users: int, created_us: int
) -> str:
    """One ``stream_rollup`` chunk: ``msgs`` messages all stamped with their
    creation time ``created_us``, sequence numbers continuing from earlier
    chunks, landed atomically as ``chunk-<index>.parquet``."""
    ts = np.full(msgs, created_us, dtype=np.int64)
    t = _events_table(rng, msgs, users, index * msgs, ts)
    path = os.path.join(log_dir, f"chunk-{index:06d}.parquet")
    write_atomic(t, path)
    return path
