"""duckdb_nats_jetstream_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of the reference DuckDB extension
``brannn/duckdb-nats-jetstream`` (a NATS JetStream stream-scan table function),
re-expressed Spark-first.

Layout
------
- ``sources``    : message-log scan (parquet-backed stream table + live NATS
                   Python DataSource), range pushdown, subject filtering.
- ``functions``  : payload field extraction (JSON / typed struct / protobuf),
                   text analysis, vector math.
- ``operators``  : deduplication, similarity search, multimodal plumbing.
- ``streaming``  : Structured Streaming equivalents (watermarks, windows).
- ``plans``      : plan-inspection helpers (pushdown / broadcast assertions).
- ``worker``     : a per-task start-up cost of PySpark Python workers,
                   removed when the package is imported inside one.

Reference parity notes cite ``/root/reference`` as ``ref:file:line``.
"""

__version__ = "0.1.0"

from duckdb_nats_jetstream_spark import worker as _worker
from duckdb_nats_jetstream_spark.session import get_spark  # noqa: F401

if _worker.applies():
    _worker.install()
