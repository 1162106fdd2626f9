"""Stream-table (message log) queries — the ``nats_scan`` capability surface
exercised by the reference's SQL test suites (test_sequence_ranges.sql,
test_timestamp_queries.sql, test_subject_filtering.sql,
test_json_extraction.sql, test_payload_blob.sql), expressed over the driver's
``events`` table via :func:`message_scan`.

Every oracle embeds ``EVENTS_ORACLE_SCAN_SQL`` as the ``scan`` CTE so both
engines agree on the events→message mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from duckdb_nats_jetstream_spark.sources.message_scan import (
    EVENTS_ORACLE_SCAN_SQL,
    message_scan,
)

_SCAN_CTE = f"WITH scan AS ({EVENTS_ORACLE_SCAN_SQL}) "


def scan_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan, base metadata projection (ref nats_scan base columns)."""
    return message_scan(spark, sf_dir).select("stream", "subject", "seq", "ts_nats")


def scan_seq_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusive sequence-range pushdown (ref:src/nats_scan.cpp:234-237)."""
    return message_scan(spark, sf_dir, start_seq=100, end_seq=1000).select(
        "seq", "subject"
    )


def scan_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-range scan with clean end-bound semantics (§2.A3)."""
    df = message_scan(
        spark, sf_dir, start_time="2024-01-05 00:00:00", end_time="2024-01-12 00:00:00"
    )
    return df.agg(
        F.count("*").alias("n_msgs"),
        F.min("seq").alias("min_seq"),
        F.max("seq").alias("max_seq"),
    )


def scan_time_range_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp range with the reference's end_time WART faithfully
    replicated (``end_time_compat=True``): the first message at-or-after
    the end bound is INCLUDED (ref:src/nats_scan.cpp:684-698). The oracle
    expresses the same resolve-then-inclusive-seq rule, so the extra row
    is value-checked, not just counted."""
    df = message_scan(
        spark, sf_dir,
        start_time="2024-01-05 00:00:00",
        end_time="2024-01-12 00:00:00",
        end_time_compat=True,
    )
    return df.agg(
        F.count("*").alias("n_msgs"),
        F.min("seq").alias("min_seq"),
        F.max("seq").alias("max_seq"),
    )


def scan_subject_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATS wildcard subject matching — the GUIDE's subject syntax the
    reference leaves as substring-only: ``events.*.u1`` = exactly one
    token between, ``events.>`` = any tail. Translated at bind time to an
    anchored regex with Java/RE2-identical semantics."""
    df = message_scan(spark, sf_dir, subject_pattern="events.*.u1")
    return df.groupBy("subject").agg(
        F.count("*").alias("n_msgs"), F.max("seq").alias("max_seq")
    )


def scan_subject_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subject substring filter + per-subject counts
    (test_subject_filtering.sql:209-218 pattern)."""
    return (
        message_scan(spark, sf_dir, subject="purchase")
        .groupBy("subject")
        .agg(F.count("*").alias("n_msgs"))
    )


def scan_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction to VARCHAR (§2.A5)."""
    return message_scan(spark, sf_dir, json_fields=["k"]).select("seq", "k")


def scan_json_cast_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GUIDE marquee query shape (ref:docs/GUIDE.md:203-215): time-range
    scan + JSON extract + cast + GROUP BY + AVG/MAX/COUNT + ORDER BY."""
    df = message_scan(
        spark,
        sf_dir,
        start_time="2024-01-03 00:00:00",
        end_time="2024-01-25 00:00:00",
        json_fields=["k"],
    )
    return (
        df.groupBy("subject")
        .agg(
            F.count("*").alias("n_msgs"),
            F.avg(F.col("k").cast("double")).alias("avg_k"),
            F.max(F.col("k").cast("double")).alias("max_k"),
        )
        .orderBy("subject")
    )


def scan_typed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The typed-extraction SCAN HOT PATH for 100 TB: payload → ``from_json``
    struct at a bind-time-declared schema → :func:`typed_extract` pure
    projection → aggregate. The entire plan is JVM whole-stage codegen —
    zero Python rows cross the boundary (contrast ``scan_proto_roundtrip``,
    which exercises the pure-Python wire codec as the *compatibility* path;
    this struct path is the default plan for typed payload analytics,
    reproducing the reference's typed columns + NULL semantics,
    ref:src/nats_scan.cpp:456-544)."""
    from pyspark.sql import types as T

    from duckdb_nats_jetstream_spark.functions.typed_extract import (
        parse_json_payload,
        typed_extract,
    )

    df = message_scan(spark, sf_dir, payload_binary=False)
    schema = T.StructType([T.StructField("k", T.LongType())])
    ex = typed_extract(parse_json_payload(df, schema), ["k"])
    return (
        ex.groupBy((F.col("k") % F.lit(10)).alias("k_bucket"))
        .agg(
            F.count("*").alias("n_msgs"),
            F.sum("k").alias("sum_k"),
            F.max("seq").alias("max_seq"),
        )
    )


def scan_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType semi-structured path: payload → ``parse_json``
    VARIANT column → typed ``try_variant_get`` extraction — the modern
    alternative to per-field ``get_json_object`` re-parsing (one parse,
    many binary-encoded accesses; stays in whole-stage codegen). Same NULL
    rules as the reference's JSON extraction: missing/mistyped → NULL."""
    df = message_scan(spark, sf_dir, payload_binary=False)
    v = df.withColumn("v", F.parse_json(F.col("payload")))
    return (
        v.select(
            "subject",
            F.try_variant_get(F.col("v"), "$.k", "long").alias("k"),
        )
        .groupBy("subject")
        .agg(
            F.count("*").alias("n_msgs"),
            F.sum("k").alias("sum_k"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("n_null_k"),
        )
    )


def scan_payload_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOB payload mode + octet_length histogram
    (test_payload_blob.sql:11-17 pattern)."""
    df = message_scan(spark, sf_dir)  # payload is binary here
    return (
        df.select(F.length("payload").cast("long").alias("payload_bytes"))
        .groupBy("payload_bytes")
        .agg(F.count("*").alias("n_msgs"))
    )


def scan_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-continuity invariant (test_sequence_ranges.sql:92-107,166-183).

    The oracle uses a global LAG; ours is :func:`operators.ordered.
    sequence_gaps` — chunk-partitioned lag + tiny boundary fix-up, so no
    single-partition WindowExec at scale. Values are identical."""
    from duckdb_nats_jetstream_spark.operators.ordered import sequence_gaps

    return sequence_gaps(message_scan(spark, sf_dir), "seq")


def scan_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup (epoch-aligned) — the streaming operator
    ``windowed_message_counts`` itself over the batch scan, oracle-checked;
    on a batch frame its watermark is a no-op."""
    from duckdb_nats_jetstream_spark.streaming.stream_scan import (
        windowed_message_counts,
    )

    return windowed_message_counts(message_scan(spark, sf_dir), window="6 hours")


def nats_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nats_jetstream Python DataSource (replay transport) — proves the
    connector path yields exactly what the oracle mapping defines."""
    from duckdb_nats_jetstream_spark.sources.nats_source import nats_scan, register

    register(spark)
    return nats_scan(
        spark.read,
        "events",
        replay_path=f"{sf_dir}/events.parquet",
        partitions=8,
        json_extract=["k"],
    ).select("seq", "subject", "ts_nats", "k")


def scan_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the message stream: a >30-minute silence
    per user starts a new session (the classic stateful-streaming op,
    expressed with windows for the batch/oracle path; the streaming path
    would use applyInPandasWithState)."""
    df = message_scan(spark, sf_dir).select(
        "seq",
        "ts_nats",
        F.regexp_extract("subject", r"\.u(\d+)$", 1).cast("long").alias("user_id"),
    )
    w = W.partitionBy("user_id").orderBy("ts_nats", "seq")
    sessions = (
        df.withColumn("prev_ts", F.lag("ts_nats").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_ts").isNull()
                | (F.col("ts_nats") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "session_no",
            F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_msgs"),
            F.min("seq").alias("first_seq"),
            # integer div: Spark's double->long cast truncates but DuckDB's
            # rounds, so never cast a fractional division cross-engine
            F.expr(
                "(unix_micros(max(ts_nats)) - unix_micros(min(ts_nats))) div 1000000"
            ).alias("duration_secs"),
        )
    )


SESSIONIZATION_SQL = (
    _SCAN_CTE
    + """
, enriched AS (
  SELECT seq, ts_nats,
         CAST(regexp_extract(subject, '\\.u(\\d+)$', 1) AS BIGINT) AS user_id
  FROM scan
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR ts_nats > prev_ts + INTERVAL '30 minutes'
            THEN 1 ELSE 0 END AS is_new
  FROM (SELECT *, lag(ts_nats) OVER (PARTITION BY user_id
                                     ORDER BY ts_nats, seq) AS prev_ts
        FROM enriched) t
), numbered AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_nats, seq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_no
  FROM flagged
)
SELECT user_id, session_no, count(*) AS n_msgs, min(seq) AS first_seq,
       (epoch_us(max(ts_nats)) - epoch_us(min(ts_nats))) // 1000000
         AS duration_secs
FROM numbered
GROUP BY user_id, session_no
"""
)


def scan_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (``F.session_window``) — the same operator
    Structured Streaming uses for stateful session aggregation, here on the
    batch scan. A session's window is ``[first_ts, last_ts + gap)`` and an
    event merges into it iff its timestamp is *strictly before* the current
    window end — so the oracle's new-session rule is ``ts >= prev + gap``
    (contrast ``scan_sessionization``'s lag rule, which uses ``>``)."""
    df = message_scan(spark, sf_dir).select(
        "seq",
        "ts_nats",
        F.regexp_extract("subject", r"\.u(\d+)$", 1).cast("long").alias("user_id"),
    )
    return (
        df.groupBy("user_id", F.session_window("ts_nats", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n_msgs"), F.min("seq").alias("first_seq"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_msgs",
            "first_seq",
        )
    )


SESSION_WINDOW_SQL = (
    _SCAN_CTE
    + """
, enriched AS (
  SELECT seq, ts_nats,
         CAST(regexp_extract(subject, '\\.u(\\d+)$', 1) AS BIGINT) AS user_id
  FROM scan
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR ts_nats >= prev_ts + INTERVAL '30 minutes'
            THEN 1 ELSE 0 END AS is_new
  FROM (SELECT *, lag(ts_nats) OVER (PARTITION BY user_id
                                     ORDER BY ts_nats, seq) AS prev_ts
        FROM enriched) t
), numbered AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_nats, seq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM flagged
)
SELECT user_id, min(ts_nats) AS session_start,
       max(ts_nats) + INTERVAL '30 minutes' AS session_end,
       count(*) AS n_msgs, min(seq) AS first_seq
FROM numbered GROUP BY user_id, session_no
"""
)


EVENTS_PROTO = """
syntax = "proto3";
message Event {
  int64 seq = 1;
  int64 user_id = 2;
  double value = 3;
  string event_type = 4;
  Props props = 5;
}
message Props { int64 k = 1; }
"""


def proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end protobuf path (§2.A6 without external libs): encode each
    event into proto wire format, then decode with the bind-time-validated
    extractor into typed columns — oracle-checked against the raw table, so
    any codec asymmetry fails the gate. (For the default JVM-only typed
    scan plan see ``scan_typed_extract``; this query IS the compatibility
    codec's gate.)"""
    from pyspark.sql import types as T

    from duckdb_nats_jetstream_spark.functions.proto import (
        encode_message,
        parse_proto,
        path_extractor,
    )
    from duckdb_nats_jetstream_spark.tables import read_table

    messages, enums = parse_proto(EVENTS_PROTO)
    desc = messages["Event"]

    ev = read_table(spark, sf_dir, "events")

    # bind-time validation as in proto_extract; the SAME extract kernel
    # decodes the wire bytes — the query still gates encode + decode
    paths = ["seq", "user_id", "value", "event_type", "props.k"]
    out_names, types, extract = path_extractor(EVENTS_PROTO, "Event", paths)
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in zip(out_names, types)]
    )

    def roundtrip(it):
        # r13 optimization (guide §4): encode→decode FUSED in one Python
        # stage. The previous mapInPandas(encode) → proto_extract chain
        # planned two MapInPandas operators — every payload byte crossed
        # JVM↔Python twice more than needed; the wire bytes now live and
        # die inside one Python worker and only the decoded typed columns
        # cross back.
        import pandas as pd

        for pdf in it:
            rows = []
            for eid, uid, val, etype, k in zip(
                pdf["event_id"], pdf["user_id"], pdf["value"],
                pdf["event_type"], pdf["k"],
            ):
                payload = encode_message(
                    dict(
                        seq=int(eid) + 1,
                        user_id=int(uid),
                        value=float(val),
                        event_type=etype,
                        props=dict(k=int(k)) if k is not None else None,
                    ),
                    desc, messages, enums,
                )
                rows.append(extract(payload))
            yield pd.DataFrame(
                dict(zip(out_names, zip(*rows)))
                if rows
                else {n: [] for n in out_names}
            )

    from duckdb_nats_jetstream_spark.tables import spread

    # JSON parse stays JVM-side (get_json_object) — only the wire codec is
    # Python; spread so a single-file input doesn't serialize the codec
    encoded = spread(
        ev.select(
            "event_id", "user_id", "value", "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
    ).mapInPandas(roundtrip, out_schema)
    return encoded.select("seq", "user_id", "value", "event_type", "props_k")


PROTO_ROUNDTRIP_SQL = """
SELECT event_id + 1 AS seq, user_id, value, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS props_k
FROM events
"""


REPEATED_EVENTS_PROTO = """
syntax = "proto3";
message EventR {
  int64 seq = 1;
  repeated int64 vals = 2;
  repeated string tags = 3;
  map<string, int64> attrs = 4;
}
"""


def proto_repeated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated/map protobuf fields — the reference's unimplemented roadmap
    (ref:docs/GUIDE.md:466-472): encode each event with packed repeated
    int64s, repeated strings, and a string→int64 map; extract as native
    Spark array/map columns; reduce to scalars so the DuckDB oracle checks
    every element's value."""
    from pyspark.sql import types as T

    from duckdb_nats_jetstream_spark.functions.proto import (
        encode_message,
        parse_proto,
        path_extractor,
    )
    from duckdb_nats_jetstream_spark.tables import read_table

    messages, enums = parse_proto(REPEATED_EVENTS_PROTO)
    desc = messages["EventR"]

    # fused encode→decode, one Python stage (guide §4; see proto_roundtrip)
    paths = ["seq", "vals", "tags", "attrs"]
    out_names, types, extract = path_extractor(
        REPEATED_EVENTS_PROTO, "EventR", paths
    )
    out_schema = T.StructType(
        [T.StructField(n, t, True) for n, t in zip(out_names, types)]
    )

    def roundtrip(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for eid, uid, etype in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"]
            ):
                eid, uid = int(eid), int(uid)
                payload = encode_message(
                    dict(
                        seq=eid,
                        vals=[eid, uid, eid % 7],
                        tags=[etype, etype.upper()],
                        attrs={"u": uid, "m": eid % 5},
                    ),
                    desc, messages, enums,
                )
                rows.append(extract(payload))
            yield pd.DataFrame(
                dict(zip(out_names, zip(*rows)))
                if rows
                else {n: [] for n in out_names}
            )

    from duckdb_nats_jetstream_spark.tables import spread

    ex = spread(
        read_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    ).mapInPandas(roundtrip, out_schema)
    return ex.select(
        "seq",
        F.size("vals").alias("n_vals"),
        F.aggregate("vals", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "sum_vals"
        ),
        F.element_at("tags", 2).alias("tag_upper"),
        F.element_at("attrs", F.lit("u")).alias("attr_u"),
        F.element_at("attrs", F.lit("m")).alias("attr_m"),
    )


PROTO_REPEATED_SQL = """
SELECT event_id AS seq, 3 AS n_vals,
       event_id + user_id + (event_id % 7) AS sum_vals,
       upper(event_type) AS tag_upper,
       user_id AS attr_u, event_id % 5 AS attr_m
FROM events
"""


def scan_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time alignment: each error event joined to the user's most
    recent click at-or-before it (time-aligned feature lookup). The oracle
    is DuckDB's native ASOF LEFT JOIN; ours is the union+window shape in
    :mod:`operators.asof` — one shuffle by user, no range explosion."""
    from duckdb_nats_jetstream_spark.operators.asof import asof_join
    from duckdb_nats_jetstream_spark.tables import read_table

    ev = read_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click")
    return asof_join(
        errors, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_cols={"event_id": "click_id", "value": "click_value"},
        # (user_id, ts) is NOT structurally unique for clicks: two clicks
        # in the same microsecond would make the matched payload
        # partition-order-dependent without a deterministic tie-break
        # (r10 review; the operator docstring requires this)
        tie_col="event_id",
    )


ASOF_JOIN_SQL = """
SELECT l.event_id, l.user_id, l.ts, l.value,
       r.event_id AS click_id, r.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'error') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def scan_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join without a nested loop: purchases inside the 1-hour window
    opened by each signup of the same user. The oracle runs the plain
    inequality join; ours bins time so Spark plans a hash equi-join on
    (user, bin) — see :mod:`operators.interval_join`."""
    from duckdb_nats_jetstream_spark.operators.interval_join import interval_join
    from duckdb_nats_jetstream_spark.tables import read_table

    ev = read_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("win_end"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    return interval_join(
        purchases, signups, on="user_id", point_ts="p_ts",
        start_col="win_start", end_col="win_end",
    ).select("signup_id", "purchase_id", "user_id", "p_ts", "p_value")


INTERVAL_JOIN_SQL = """
SELECT i.event_id AS signup_id, p.event_id AS purchase_id, p.user_id,
       p.ts AS p_ts, p.value AS p_value
FROM (SELECT * FROM events WHERE event_type = 'signup') i
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON i.user_id = p.user_id
 AND p.ts >= i.ts AND p.ts <= i.ts + INTERVAL 1 HOUR
"""


def scan_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient per-subject rollup: two-phase salted aggregation whose
    decimal-exact partials make it value-identical to a direct GROUP BY (the
    oracle). The shape that survives a hot subject at 100 TB."""
    from duckdb_nats_jetstream_spark.operators.skew import salted_agg

    df = message_scan(spark, sf_dir, json_fields=["k"]).select(
        "subject", "seq", F.col("k").cast("double").alias("kd")
    )
    return salted_agg(
        df,
        keys=["subject"],
        partial_aggs=[
            F.count("*").alias("pn"),
            F.sum(F.col("kd").cast("decimal(18,2)")).alias("psum"),
            F.max("seq").alias("pmax"),
        ],
        final_aggs=[
            F.sum("pn").alias("n_msgs"),
            F.sum("psum").cast("double").alias("sum_k"),
            F.max("pmax").alias("max_seq"),
        ],
        n_salts=16,
        salt_source="seq",
    )


SALTED_AGG_SQL = (
    _SCAN_CTE
    + "SELECT subject, count(*) AS n_msgs, "
    "CAST(sum(CAST(CAST(json_extract_string(payload, '$.k') AS DOUBLE) "
    "AS DECIMAL(18,2))) AS DOUBLE) AS sum_k, "
    "max(seq) AS max_seq FROM scan GROUP BY subject"
)


def scan_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time_bucket_gapfill + locf + interpolate
    (:mod:`operators.gapfill`): hourly per-event-type average value as a
    DENSE series — every hour in the observed range materializes, missing
    hours get a zero count, carried-forward value, and linear interpolation
    between bracketing observations."""
    from duckdb_nats_jetstream_spark.functions.exact import davg
    from duckdb_nats_jetstream_spark.operators.gapfill import time_bucket_gapfill
    from duckdb_nats_jetstream_spark.tables import read_table

    ev = read_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    return time_bucket_gapfill(
        ev, "ts", davg("value", "v"), keys=["event_type"], bucket_width="1 hour"
    ).orderBy("event_type", "bucket")


GAPFILL_SQL = """
WITH obs AS (
    SELECT event_type,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) AS eb,
           count(*) AS n_obs,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS v_obs
    FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(eb) AS mn, max(eb) AS mx FROM obs),
spine AS (
    SELECT k.event_type, unnest(generate_series(mn, mx)) AS eb
    FROM (SELECT DISTINCT event_type FROM obs) k, bounds
),
dense AS (
    SELECT s.event_type, s.eb, o.n_obs, o.v_obs
    FROM spine s LEFT JOIN obs o ON s.event_type = o.event_type AND s.eb = o.eb
),
filled AS (
    SELECT event_type, eb, n_obs, v_obs,
        last_value(v_obs IGNORE NULLS) OVER w_past AS prev_v,
        first_value(v_obs IGNORE NULLS) OVER w_fut AS next_v,
        last_value(CASE WHEN v_obs IS NOT NULL THEN eb END IGNORE NULLS)
            OVER w_past AS prev_eb,
        first_value(CASE WHEN v_obs IS NOT NULL THEN eb END IGNORE NULLS)
            OVER w_fut AS next_eb
    FROM dense
    WINDOW
        w_past AS (PARTITION BY event_type ORDER BY eb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_fut AS (PARTITION BY event_type ORDER BY eb
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type,
       make_timestamp(eb * 3600000000) AS bucket,
       coalesce(n_obs, 0) AS n,
       v_obs AS v,
       coalesce(v_obs, prev_v) AS v_locf,
       CASE WHEN v_obs IS NOT NULL THEN v_obs
            WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
            THEN prev_v + (next_v - prev_v) *
                 (CAST(eb - prev_eb AS DOUBLE) / CAST(next_eb - prev_eb AS DOUBLE))
       END AS v_interp
FROM filled
ORDER BY event_type, bucket
"""


QUERIES = {
    "scan_gapfill": (scan_gapfill, GAPFILL_SQL),
    "scan_salted_agg": (scan_salted_agg, SALTED_AGG_SQL),
    "scan_proto_roundtrip": (proto_roundtrip, PROTO_ROUNDTRIP_SQL),
    "scan_proto_repeated": (proto_repeated, PROTO_REPEATED_SQL),
    "scan_asof_join": (scan_asof_join, ASOF_JOIN_SQL),
    "scan_interval_join": (scan_interval_join, INTERVAL_JOIN_SQL),
    "scan_sessionization": (scan_sessionization, SESSIONIZATION_SQL),
    "scan_session_window": (scan_session_window, SESSION_WINDOW_SQL),
    "scan_windowed_rollup": (
        scan_windowed_rollup,
        _SCAN_CTE
        + "SELECT time_bucket(INTERVAL '6 hours', ts_nats) AS window_start, "
        "time_bucket(INTERVAL '6 hours', ts_nats) + INTERVAL '6 hours' AS window_end, "
        "subject, count(*) AS n_msgs, max(seq) AS max_seq "
        "FROM scan GROUP BY 1, 2, 3",
    ),
    "nats_source_scan": (
        nats_source_scan,
        _SCAN_CTE
        + "SELECT seq, subject, ts_nats, "
        "json_extract_string(payload, '$.k') AS k FROM scan",
    ),
    "scan_base": (
        scan_base,
        _SCAN_CTE + "SELECT stream, subject, seq, ts_nats FROM scan",
    ),
    "scan_seq_range": (
        scan_seq_range,
        _SCAN_CTE + "SELECT seq, subject FROM scan WHERE seq BETWEEN 100 AND 1000",
    ),
    "scan_time_range": (
        scan_time_range,
        _SCAN_CTE
        + "SELECT count(*) AS n_msgs, min(seq) AS min_seq, max(seq) AS max_seq "
        "FROM scan WHERE ts_nats >= TIMESTAMP '2024-01-05 00:00:00' "
        "AND ts_nats <= TIMESTAMP '2024-01-12 00:00:00'",
    ),
    "scan_subject_filter": (
        scan_subject_filter,
        _SCAN_CTE
        + "SELECT subject, count(*) AS n_msgs FROM scan "
        "WHERE subject LIKE '%purchase%' GROUP BY subject",
    ),
    "scan_json_extract": (
        scan_json_extract,
        _SCAN_CTE
        + "SELECT seq, json_extract_string(payload, '$.k') AS k FROM scan",
    ),
    "scan_json_cast_agg": (
        scan_json_cast_agg,
        _SCAN_CTE
        + "SELECT subject, count(*) AS n_msgs, "
        "avg(CAST(json_extract_string(payload, '$.k') AS DOUBLE)) AS avg_k, "
        "max(CAST(json_extract_string(payload, '$.k') AS DOUBLE)) AS max_k "
        "FROM scan WHERE ts_nats >= TIMESTAMP '2024-01-03 00:00:00' "
        "AND ts_nats <= TIMESTAMP '2024-01-25 00:00:00' "
        "GROUP BY subject ORDER BY subject",
    ),
    "scan_time_range_compat": (
        scan_time_range_compat,
        _SCAN_CTE
        + "SELECT count(*) AS n_msgs, min(seq) AS min_seq, max(seq) AS max_seq "
        "FROM scan WHERE ts_nats >= TIMESTAMP '2024-01-05 00:00:00' "
        "AND seq <= coalesce((SELECT min(seq) FROM scan "
        "WHERE ts_nats >= TIMESTAMP '2024-01-12 00:00:00'), "
        "(SELECT max(seq) FROM scan))",
    ),
    "scan_subject_wildcard": (
        scan_subject_wildcard,
        _SCAN_CTE
        + "SELECT subject, count(*) AS n_msgs, max(seq) AS max_seq FROM scan "
        "WHERE regexp_matches(subject, '^events\\.[^.]+\\.u1$') "
        "GROUP BY subject",
    ),
    "scan_typed_extract": (
        scan_typed_extract,
        _SCAN_CTE
        + "SELECT CAST(json_extract(payload, '$.k') AS BIGINT) % 10 AS k_bucket, "
        "count(*) AS n_msgs, "
        "CAST(sum(CAST(json_extract(payload, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, "
        "max(seq) AS max_seq "
        "FROM scan GROUP BY 1",
    ),
    "scan_variant_extract": (
        scan_variant_extract,
        _SCAN_CTE
        + "SELECT subject, count(*) AS n_msgs, "
        "CAST(sum(CAST(json_extract(payload, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, "
        "count(CASE WHEN json_extract(payload, '$.k') IS NULL THEN 1 END) AS n_null_k "
        "FROM scan GROUP BY subject",
    ),
    "scan_payload_sizes": (
        scan_payload_sizes,
        _SCAN_CTE
        + "SELECT octet_length(CAST(payload AS BLOB)) AS payload_bytes, "
        "count(*) AS n_msgs FROM scan GROUP BY 1",
    ),
    "scan_gap_detection": (
        scan_gap_detection,
        _SCAN_CTE
        + "SELECT count(*) AS n_msgs, "
        "CAST(sum(CASE WHEN seq - prev_seq > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps, "
        "max(seq) - min(seq) + 1 AS span FROM "
        "(SELECT seq, lag(seq) OVER (ORDER BY seq) AS prev_seq FROM scan) t",
    ),
}
