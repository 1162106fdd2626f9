"""Training-data pipeline queries, batch 2: table profiling, CDC-style
latest-row-per-key compaction, and bigram language modeling stats.

Scale notes: profiling is one pass + one Expand shuffle regardless of how
many columns are profiled; latest-per-key hash-partitions on the key (no
global sort); bigram top-k aggregates BEFORE ranking, so the window only
sees (lang, bigram) counts, never raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from duckdb_nats_jetstream_spark.functions import text as TX
from duckdb_nats_jetstream_spark.operators.profile import profile
from duckdb_nats_jetstream_spark.tables import read_table, spread


def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass profile of the events stream table (string-stable
    columns only — doubles stay out of the oracle's string rendering)."""
    ev = read_table(spark, sf_dir, "events")
    return profile(ev, ["event_id", "user_id", "event_type"])


def _profile_col_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS column_name,
       count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM events"""


PROFILE_EVENTS_SQL = (
    " UNION ALL ".join(_profile_col_sql(c) for c in ["event_id", "user_id", "event_type"])
    + " ORDER BY column_name"
)


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style compaction: the latest event per user (upsert semantics —
    what a 100 TB change-log table compacts to). Deterministic tiebreak on
    event_id; hash-partitioned window, no global sort."""
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id")
    )


LATEST_EVENT_SQL = """
SELECT user_id, event_id, ts, event_type, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id
"""


def bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 bigrams per language — n-gram LM statistics over the corpus.
    Bigrams are built row-local with a zero-shuffle higher-order transform;
    the only shuffle is the (lang, bigram) count aggregation; ranking runs
    over the already-aggregated counts."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    toked = docs.select("lang", TX.tokens(F.col("text")).alias("toks"))
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(0, size(toks) - 2),"
            " i -> concat(toks[i], ' ', toks[i + 1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        toked.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("bigram"))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .select("lang", "bigram", "cnt")
        .orderBy("lang", F.col("cnt").desc(), "bigram")
    )


BIGRAM_TOPK_SQL = f"""
WITH toked AS (
    SELECT lang, {TX.sql_tokens('text')} AS t FROM documents
), bi AS (
    SELECT lang,
           unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1])) AS bigram
    FROM toked
), counts AS (
    SELECT lang, bigram, count(*) AS cnt FROM bi GROUP BY lang, bigram
)
SELECT lang, bigram, cnt
FROM counts
QUALIFY row_number() OVER (PARTITION BY lang
                           ORDER BY cnt DESC, bigram) <= 5
ORDER BY lang, cnt DESC, bigram
"""


def docs_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (MOSS rolling-hash selection,
    :func:`operators.dedup.winnow_fingerprints`): the full (doc_id, fp)
    relation — every selected fingerprint of every document, so the oracle
    hash checks the k-gram hashing, window minima, and dedup bit-for-bit."""
    from duckdb_nats_jetstream_spark.operators import dedup as D

    return D.winnow_fingerprints(read_table(spark, sf_dir, "documents"))


# SCALE PIN (r09 verdict #7): dedup_winnow below is the deliberately
# UNCAPPED oracle form and must NEVER be run past the oracle fixtures
# (sf0.01 gate / sf0.1 bench). Measured exponent 1.90 — 477.5 s / 34 GB
# peak task memory at the 10× replica vs 6.3 s / 4.8 GB for the capped
# default (SCALING batch 27, PERF.md r09) — so it is excluded from every
# scale harness (tools/stress_fullsweep.py SKIP table) and must not be
# copied into any pipeline example.
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-sharing near-dup pairs (MOSS match step): self-join the
    winnowing fingerprints on fp, count shared prints per pair, keep pairs
    sharing ≥ 30. One fingerprint-keyed shuffle — same scale shape as the
    LSH band join. ``df_cap=None`` is the EXPLICIT uncapped opt-out (the
    operator default is capped since r09 — r08 verdict): this oracle form
    deliberately checks the exhaustive pair semantics; production corpora
    should take the default (see :func:`dedup_winnow_capped`)."""
    from duckdb_nats_jetstream_spark.operators import dedup as D

    return D.winnow_pairs(
        read_table(spark, sf_dir, "documents"), min_shared=30, df_cap=None
    )


def _winnow_sqls():
    from duckdb_nats_jetstream_spark.operators.dedup import (
        sql_winnow_fingerprints,
    )

    fp_sql = sql_winnow_fingerprints()
    pairs_sql = f"""
WITH fps AS ({fp_sql})
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 30
"""
    return fp_sql, pairs_sql


_FP_SQL, _PAIRS_SQL = _winnow_sqls()


#: target mixture for the domain-mixing sample query — keep all of src0,
#: down-weight the named sources, 15% of everything else
_MIX_RATES = {"src0": 1.0, "src1": 0.6, "src2": 0.35}
_MIX_DEFAULT = 0.15


def docs_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixing sample (:func:`operators.sampling.
    weighted_mixture_sample`): per-source keep rates applied as a row-local
    salted-hash threshold — no shuffle, no RNG, identical row selection in
    both engines."""
    from duckdb_nats_jetstream_spark.operators.sampling import (
        weighted_mixture_sample,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    return weighted_mixture_sample(docs, _MIX_RATES, default_rate=_MIX_DEFAULT)


def _mix_sql() -> str:
    from duckdb_nats_jetstream_spark.operators.sampling import (
        sql_weighted_mixture,
    )

    pred = sql_weighted_mixture(_MIX_RATES, default_rate=_MIX_DEFAULT)
    return (
        "SELECT doc_id, source, lang, n_chars FROM documents WHERE " + pred
    )


def scan_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC history build (SCD-type-2): each user's event stream becomes
    validity intervals — state valid from its own timestamp until the next
    change (NULL = still current). One hash-partitioned LEAD window per
    user, no global sort; the exact complement of ``scan_latest_per_key``'s
    compaction (that query keeps the last row; this one keeps the history
    with interval bounds, the lakehouse dimension-table pattern)."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        (F.lead("ts").over(w).isNull()).cast("int").alias("is_current"),
    )


SCD2_SQL = """
SELECT user_id, event_id, event_type AS state,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            AS INTEGER) AS is_current
FROM events
WHERE event_type IN ('signup', 'purchase')
"""


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (:mod:`functions.redact`): the corpus is salted with
    deterministic synthetic emails/phones/IPs (built from doc_id by the SAME
    expression in both engines — the driver's documents contain no organic
    PII to exercise the patterns), then counted and redacted. The md5 of the
    redacted text makes any cross-engine divergence in match boundaries or
    replacement order a hash failure."""
    from duckdb_nats_jetstream_spark.functions.redact import (
        pii_counts,
        redact_pii,
    )

    docs = read_table(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1"),
            F.lpad((F.col("doc_id") % 9999991).cast("string"), 7, "0"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 100).cast("string"),
        ).alias("t"),
    )
    counts = pii_counts(F.col("t"))
    return salted.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ip"),
        F.md5(redact_pii(F.col("t"))).alias("redacted_md5"),
    )


def _pii_sql() -> str:
    from duckdb_nats_jetstream_spark.functions.redact import (
        sql_pii_counts,
        sql_redact_pii,
    )

    t = (
        "text || ' contact u' || CAST(doc_id AS VARCHAR) || "
        "'@mail.example.com or +1' || "
        "lpad(CAST(doc_id % 9999991 AS VARCHAR), 7, '0') || "
        "' from 10.' || CAST(doc_id % 256 AS VARCHAR) || "
        "'.0.' || CAST(doc_id % 100 AS VARCHAR)"
    )
    c = sql_pii_counts(t)
    return f"""
SELECT doc_id,
       {c['email']} AS n_email,
       {c['phone']} AS n_phone,
       {c['ipv4']} AS n_ip,
       md5({sql_redact_pii(t)}) AS redacted_md5
FROM documents
"""


def dedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END near-dup removal — the keep/drop decision a training
    pipeline actually ships: MinHash-LSH pairs → connected components →
    drop every non-canonical member → surviving corpus. Composes three
    operators (dedup, components, anti-join); the oracle replays the whole
    chain (pair SQL + recursive-CTE closure + anti join)."""
    from duckdb_nats_jetstream_spark.operators import dedup as D
    from duckdb_nats_jetstream_spark.operators.components import (
        connected_components,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, k=8, band_size=2, threshold=0.2)
    comp = connected_components(pairs, "id_a", "id_b", edges_unique=True)
    losers = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    return (
        docs.join(losers, "doc_id", "left_anti")
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"), F.min("doc_id").alias("min_kept_id"))
    )


def _dedup_prune_sql() -> str:
    from duckdb_nats_jetstream_spark.queries.pipeline import _minhash_lsh_sql

    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_minhash_lsh_sql()}) mp
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, root) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (
  SELECT node AS doc_id, min(root) AS component FROM reach GROUP BY node
),
losers AS (SELECT doc_id FROM comp WHERE doc_id <> component)
SELECT source, count(*) AS n_kept, min(doc_id) AS min_kept_id
FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM losers)
GROUP BY source
"""


QUERIES = {
    "profile_events": (profile_events, PROFILE_EVENTS_SQL),
    "scan_latest_per_key": (latest_event_per_user, LATEST_EVENT_SQL),
    "text_bigram_topk": (bigram_topk, BIGRAM_TOPK_SQL),
    "docs_winnow_fingerprints": (docs_winnow_fingerprints, _FP_SQL),
    "dedup_winnow": (dedup_winnow, _PAIRS_SQL),
    "docs_weighted_mix": (docs_weighted_mix, _mix_sql()),
    "scan_scd2_intervals": (scan_scd2_intervals, SCD2_SQL),
    "text_pii_redact": (text_pii_redact, _pii_sql()),
    "dedup_prune": (dedup_prune, _dedup_prune_sql()),
}
