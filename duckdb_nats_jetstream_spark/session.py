"""SparkSession factory tuned for the local[32] test rig but configured the
way a 1000-executor cluster run would be: AQE on (runtime coalesce + skew
join), Arrow for any Python exchange, UTC session time zone so timestamp
semantics match the DuckDB oracle.

Table readers and the ``spread`` parallelism helper live in ``tables.py``.
A conf the package needs only for one write, read or query start is set
for that scope alone through :func:`scoped_conf`.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app_name: str = "duckdb_nats_jetstream_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_SCOPES_LOCK = threading.Lock()
#: (id(session), key) -> [depth, value, saved]. Per SESSION, not
#: process-global: structured streaming runs foreachBatch on a CLONED
#: session with its own conf, so a scope held on one session must neither
#: cover nor restore another. Entries are deleted at depth 0, so id() reuse
#: cannot alias: a live entry pins its session alive through the caller's
#: reference.
_SCOPES: dict[tuple[int, str], list] = {}


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set ``key`` to ``value`` in ``spark``'s session conf for the body,
    then restore the caller's value — or unset the key, if it was unset.

    Overlapping scopes of one key ON THE SAME SESSION (e.g. two threads
    sharing one session) must not each save/restore independently — a
    naive save would capture the OTHER scope's value as "previous" and
    leave the session clobbered. A per-(session, key) depth counter
    serializes the bookkeeping: the outermost entry saves the caller's
    value, the outermost exit restores it. Overlapping scopes that want
    DIFFERENT values for one key cannot both hold, so the second raises.

    The conf is session-global: anything else run on the session while
    the scope is open (another thread's query, say) sees ``value`` too."""
    scope = (id(spark), key)
    with _SCOPES_LOCK:
        state = _SCOPES.get(scope)
        if state is None:
            saved = spark.conf.get(key, None)
            spark.conf.set(key, value)
            _SCOPES[scope] = [1, value, saved]
        elif state[1] != value:
            raise ValueError(
                f"scoped_conf: {key} is already scoped to {state[1]!r} on this "
                f"session; cannot also scope it to {value!r}"
            )
        else:
            state[0] += 1
    try:
        yield
    finally:
        with _SCOPES_LOCK:
            state = _SCOPES[scope]
            state[0] -= 1
            if state[0] == 0:
                del _SCOPES[scope]
                if state[2] is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, state[2])
