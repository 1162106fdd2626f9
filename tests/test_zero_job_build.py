"""Query construction runs no Spark job: the benchmark's batch queries build
lazy plans, and a table read declares its schema from the parquet footer
(``tables.read_parquet``) instead of running Spark's one-task inference
job. The declared schema must be the one Spark infers."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_nats_jetstream_spark.tables import read_parquet

#: the batch benchmark's queries: seven message-log scans and one curation query
BATCH_QUERIES = [
    "scan_seq_range", "scan_json_extract", "scan_json_cast_agg", "scan_typed_extract",
    "scan_proto_roundtrip", "scan_windowed_rollup", "scan_asof_join", "text_unigram_bits",
]


#: queries off the benchmark whose build once materialized and no longer does
LAZY_QUERIES = ["text_countmin_topk"]


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@pytest.fixture(scope="module")
def registry():
    from duckdb_nats_jetstream_spark.queries import full_registry

    return full_registry()


@pytest.mark.parametrize("name", BATCH_QUERIES + LAZY_QUERIES)
def test_batch_query_builds_without_a_job(spark, sf_dir, registry, name):
    before = _jobs(spark)
    registry[name][0](spark, sf_dir)
    assert _jobs(spark) == before


def _logs(d: str) -> list[str]:
    """Message logs in three timestamp flavours: ns, µs and INT96."""
    n = 4
    ts = [1_704_067_200_000_000 + i for i in range(n)]
    cols = {
        "event_id": pa.array(range(n), pa.int64()),
        "user_id": pa.array(range(n), pa.int64()),
        "event_type": pa.array(["view"] * n),
        "value": pa.array([1.5] * n),
        "props": pa.array(['{"k": 1}'] * n),
    }
    out = []
    for name, ts_arr, kw in [
        ("ns", pa.array([t * 1000 for t in ts], pa.timestamp("ns")), {}),
        ("us", pa.array(ts, pa.timestamp("us")), {}),
        ("int96", pa.array(ts, pa.timestamp("us")), {"use_deprecated_int96_timestamps": True}),
    ]:
        path = os.path.join(d, f"{name}.parquet")
        pq.write_table(pa.table({"ts": ts_arr, **cols}), path, **kw)
        out.append(path)
    return out


def test_declared_schema_equals_inferred(spark, sf_dir, tmp_path):
    paths = sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))) + _logs(str(tmp_path))
    assert len(paths) >= 13
    for p in paths:
        # read_parquet first: it sets nanosAsLong, without which Spark
        # cannot infer the ns log's schema at all
        declared = read_parquet(spark, p).schema
        assert declared == spark.read.parquet(p).schema, p


def test_declared_schema_read_runs_no_job(spark, sf_dir, tmp_path):
    before = _jobs(spark)
    for p in [*_logs(str(tmp_path)), *glob.glob(os.path.join(sf_dir, "*.parquet"))]:
        read_parquet(spark, p).schema
    assert _jobs(spark) == before
