"""Training-data pipeline queries, batch 3 (round 3).

First wave: Gopher-style quality rules, int8 quantization, SRP-bucket
centroids, DF-capped winnowing, duplicated-span audit, exact group
quantiles, TPC-H Q6. Second wave: exact k-NN self-join, corpus-frequency
boilerplate, frame sampling, prefix-containment dedup, snapshot diff
(CDC), mixture planning, EWMA trends, Z-order layout audit, leakage-safe
splitting, SymSpell fuzzy matching, cohort retention, char diversity,
audio waveform stats, and the capstone curation pipeline composing them.

Scale notes: each query is row-local column math, one-or-two hash
aggregations on the key its join already shuffles on, or a blocked join
whose key bounds the pair explosion — no new shuffle shapes, no windows
over raw rows, no unbounded driver collects (the z-order min/max and the
IVF fit sample are the two bounded exceptions, both documented).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from duckdb_nats_jetstream_spark.functions import text as TX
from duckdb_nats_jetstream_spark.operators import similarity as S
from duckdb_nats_jetstream_spark.tables import cached, read_table, spread

_TOKS = TX.sql_tokens("text")

#: Gopher-rule thresholds (Rae et al. 2021, table A1 — adapted to the
#: synthetic corpus's scale: its documents are 10-100 tokens, so the token
#: floor sits at 10 rather than 50)
_GOPHER = {
    "min_tok": 10,
    "max_tok": 100000,
    "min_mean_len": 3.0,
    "max_mean_len": 10.0,
    "min_stop_hits": 2,
    "min_alpha_frac": 0.7,
    "max_dup2_frac": 0.4,
}


def text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules as one row-local projection:
    token-count bounds, mean token length band, stopword floor, alphabetic
    fraction, and duplicate-bigram ceiling, plus the conjunctive ``keep``
    bit a pipeline would filter on. Zero shuffle — the rules ride the scan;
    at 100 TB this is a map-only stage that fuses into whole-stage codegen.

    Every signal is exact-integer math plus at most one IEEE division, so
    the doubles hash identically to the DuckDB mirror. Rule bits are INTs
    (not booleans) so the driver's pandas canonicalizer sorts them stably.
    """
    g = _GOPHER
    docs = spread(read_table(spark, sf_dir, "documents"))
    toked = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    n = F.size("toks").cast("long")
    total_len = F.aggregate(
        "toks", F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_len = total_len / n
    all_stop = sorted({w for ws in TX.LANG_STOPWORDS.values() for w in ws})
    stop_hits = F.size(F.filter("toks", lambda t: t.isin(*all_stop))).cast("long")
    alpha_frac = F.size(F.filter("toks", lambda t: t.rlike("^[a-z]+$"))) / F.size(
        "toks"
    )
    dup2 = TX.dup_ngram_fraction(F.col("toks"), 2)
    base = toked.select(
        "doc_id",
        n.alias("n_tok"),
        mean_len.alias("mean_tok_len"),
        stop_hits.alias("stop_hits"),
        alpha_frac.alias("alpha_frac"),
        dup2.alias("dup2_frac"),
    )
    r_len = (F.col("n_tok") >= g["min_tok"]) & (F.col("n_tok") <= g["max_tok"])
    r_word = (F.col("mean_tok_len") >= g["min_mean_len"]) & (
        F.col("mean_tok_len") <= g["max_mean_len"]
    )
    r_stop = F.col("stop_hits") >= g["min_stop_hits"]
    r_alpha = F.col("alpha_frac") >= g["min_alpha_frac"]
    r_rep = F.col("dup2_frac") <= g["max_dup2_frac"]
    return base.select(
        "doc_id",
        "n_tok",
        "mean_tok_len",
        "stop_hits",
        "alpha_frac",
        "dup2_frac",
        r_len.cast("int").alias("pass_len"),
        r_word.cast("int").alias("pass_word_len"),
        r_stop.cast("int").alias("pass_stop"),
        r_alpha.cast("int").alias("pass_alpha"),
        r_rep.cast("int").alias("pass_rep"),
        (r_len & r_word & r_stop & r_alpha & r_rep).cast("int").alias("keep"),
    )


def _gopher_sql() -> str:
    g = _GOPHER
    all_stop = sorted({w for ws in TX.LANG_STOPWORDS.values() for w in ws})
    lst = ", ".join(f"'{w}'" for w in all_stop)
    dup2 = TX.sql_dup_ngram_fraction("toks", 2)
    return f"""
WITH toked AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sig AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tok,
         list_sum(list_transform(toks, t -> length(t))) / len(toks)
           AS mean_tok_len,
         CAST(len(list_filter(toks, t -> t IN ({lst}))) AS BIGINT) AS stop_hits,
         len(list_filter(toks, t -> regexp_full_match(t, '[a-z]+')))
           / len(toks) AS alpha_frac,
         {dup2} AS dup2_frac
  FROM toked
)
SELECT doc_id, n_tok, mean_tok_len, stop_hits, alpha_frac, dup2_frac,
  CAST(n_tok >= {g["min_tok"]} AND n_tok <= {g["max_tok"]} AS INT) AS pass_len,
  CAST(mean_tok_len >= {g["min_mean_len"]}
       AND mean_tok_len <= {g["max_mean_len"]} AS INT) AS pass_word_len,
  CAST(stop_hits >= {g["min_stop_hits"]} AS INT) AS pass_stop,
  CAST(alpha_frac >= {g["min_alpha_frac"]} AS INT) AS pass_alpha,
  CAST(dup2_frac <= {g["max_dup2_frac"]} AS INT) AS pass_rep,
  CAST(n_tok >= {g["min_tok"]} AND n_tok <= {g["max_tok"]}
       AND mean_tok_len >= {g["min_mean_len"]}
       AND mean_tok_len <= {g["max_mean_len"]}
       AND stop_hits >= {g["min_stop_hits"]}
       AND alpha_frac >= {g["min_alpha_frac"]}
       AND dup2_frac <= {g["max_dup2_frac"]} AS INT) AS keep
FROM sig
"""


def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding compression audit (:func:`operators.similarity.
    quantize_int8`): per-vector scale + max reconstruction error +
    saturation count — row-local, zero shuffle, bit-exact vs the oracle."""
    return S.quantize_int8(read_table(spark, sf_dir, "embeddings"))


def sim_bucket_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-bucket centroids (:func:`operators.similarity.bucket_centroids`):
    the codebook-refresh aggregation of a bucketed ANN index, computed with
    an exact fixed-point sum so the mean is partition-order independent."""
    return S.bucket_centroids(read_table(spark, sf_dir, "embeddings"))


def dedup_winnow_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing pair generation with the hot-fingerprint cap engaged
    (:func:`operators.dedup.winnow_pairs` ``df_cap``): fingerprints shared
    by more than ``df_cap`` documents (boilerplate) are dropped before the
    self-join — the guard that keeps the pair explosion bounded at corpus
    scale. Same fp-keyed shuffle; one extra aggregation on that key."""
    from duckdb_nats_jetstream_spark.operators import dedup as D

    return D.winnow_pairs(
        read_table(spark, sf_dir, "documents"), min_shared=20, df_cap=40
    )


def _winnow_capped_sql() -> str:
    from duckdb_nats_jetstream_spark.operators.dedup import (
        sql_winnow_fingerprints,
    )

    return f"""
WITH fps AS ({sql_winnow_fingerprints()}),
rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 40),
kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 20
"""


def dedup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span audit (:func:`operators.dedup.
    dup_span_stats`, Lee et al. 2022): per document, the fraction of its
    13-token-gram positions whose gram occurs in another document — the
    signal that catches boilerplate/templated spans document-level dedup
    misses. (No ORDER BY — the driver's compare is order-insensitive and a
    global sort would be a needless single-range-exchange at scale.)"""
    from duckdb_nats_jetstream_spark.operators import dedup as D

    return D.dup_span_stats(read_table(spark, sf_dir, "documents"))


def _span_sql() -> str:
    from duckdb_nats_jetstream_spark.operators.dedup import sql_dup_span_stats

    return sql_dup_span_stats()


def docs_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source EXACT quality-score quantiles via the range-partition
    selection operator (:mod:`operators.quantiles`) — the 100 TB order-
    statistics path (no per-group value maps, no single-group sort tasks),
    driver-verified against DuckDB's ``quantile_cont``. This is the
    calibration step of per-domain quality filtering: the p25/p50/p90 a
    pipeline would threshold against."""
    from duckdb_nats_jetstream_spark.operators.quantiles import (
        exact_group_quantiles,
    )

    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source", TX.quality_score(TX.tokens(F.col("text"))).alias("qs")
    )
    out = exact_group_quantiles(scored, "source", "qs", [0.25, 0.5, 0.9])
    return out.select(
        "source",
        F.col("q_0").alias("p25"),
        F.col("q_1").alias("p50"),
        F.col("q_2").alias("p90"),
        "n",
    ).orderBy("source")


QUALITY_QUANTILES_SQL = f"""
WITH scored AS (
  SELECT source, {TX.sql_quality_score(_TOKS)} AS qs FROM documents
)
SELECT source,
       quantile_cont(qs, 0.25) AS p25,
       quantile_cont(qs, 0.5) AS p50,
       quantile_cont(qs, 0.9) AS p90,
       count(*) AS n
FROM scored GROUP BY source ORDER BY source
"""


def rel_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): one filtered scan, one global
    aggregate — the canonical predicate-pushdown + map-side-partial-agg
    query. revenue = Σ price·discount in exact decimal (ref coverage:
    the host-engine aggregate/filter surface, SURVEY §2.B)."""
    li = read_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col(
        "l_discount"
    ).cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


FORECAST_REVENUE_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN self-join (:func:`operators.similarity.knn_join`): every
    vector's top-3 cosine neighbors with both sides the full corpus —
    block-pair partial top-k, O(n_blocks·N·k) intermediate rows, fold-exact
    cosine bit-identical to the cross-join + row_number oracle."""
    return S.knn_join(read_table(spark, sf_dir, "embeddings"), k=3, n_blocks=3)


def docs_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate profile (:mod:`operators.boilerplate`,
    CCNet recipe): non-overlapping 5-word segments, flagged when shared by
    ≥2 distinct documents; per-doc counts + exact fraction. Two shuffles on
    the 16-hex segment fingerprint (count, co-located flag join-back)."""
    from duckdb_nats_jetstream_spark.operators.boilerplate import (
        segment_boilerplate_stats,
    )

    return segment_boilerplate_stats(read_table(spark, sf_dir, "documents"))


def _boilerplate_sql() -> str:
    from duckdb_nats_jetstream_spark.operators.boilerplate import (
        sql_segment_boilerplate,
    )

    return sql_segment_boilerplate()


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary media (:func:`operators.multimodal.
    sample_frames` — the one-to-many ``mapInPandas`` shape video extraction
    needs): message payloads inflated ×40 into multi-KB 'videos', sliced
    into 1 KB frames. The frame slices are plain byte ranges, so DuckDB can
    recompute every frame digest by slicing the hex encoding — this upgrades
    the sampler from a rows-only stub to a full hash-parity gate."""
    from duckdb_nats_jetstream_spark.operators.multimodal import sample_frames
    from duckdb_nats_jetstream_spark.sources import message_scan

    src = message_scan(spark, sf_dir, start_seq=1, end_seq=500)
    media = src.select(
        F.col("seq").alias("media_id"),
        F.concat(*([F.coalesce(F.col("payload"), F.lit(b""))] * 40)).alias("data"),
    )
    frames = sample_frames(media, every_n=1)
    return frames.select(
        "media_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.length("frame").cast("long").alias("n_bytes"),
        F.md5(F.lower(F.hex("frame"))).alias("frame_md5"),
    )


def _frame_sample_sql() -> str:
    from duckdb_nats_jetstream_spark.queries.pipeline import _SCAN_CTE

    # 1 KB frames = 2048 hex chars; frame count = ceil(max(len,1)/1024) so a
    # zero-byte payload still yields one empty frame, like the operator
    return (
        _SCAN_CTE
        + """, b AS (
  SELECT seq AS media_id,
         repeat(lower(hex(coalesce(payload, '')::BLOB)), 40) AS hx
  FROM scan WHERE seq BETWEEN 1 AND 500
), n AS (
  SELECT media_id, hx, length(hx) // 2 AS len FROM b
), idx AS (
  SELECT media_id, hx,
         unnest(range(0, CAST(ceil(greatest(len, 1) / 1024.0) AS BIGINT))) AS i
  FROM n
), fr AS (
  SELECT media_id, CAST(i AS BIGINT) AS frame_no,
         substring(hx, CAST(i * 2048 + 1 AS BIGINT), 2048) AS fhx
  FROM idx
)
SELECT media_id, frame_no,
       CAST(length(fhx) // 2 AS BIGINT) AS n_bytes,
       md5(fhx) AS frame_md5
FROM fr
"""
    )


def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Gini–Simpson diversity per document, computed
    as ``1 − Σcnt²/n²`` with INTEGER Σcnt² — exact under any summation
    order, so the two engines can use entirely different plans and still
    hash-match; the one division is a correctly-rounded IEEE op on exact
    ints. (A transcendental-free entropy stand-in: log2's last ulp differs
    cross-engine.)

    Plan: explode chars (row-local, tiny rows) + two hash aggregations with
    map-side partial combine — the canonical distributed shape. The
    row-local Column variant (:func:`functions.text.char_diversity`) was
    measured 5× slower at sf0.1: its nested higher-order functions drop out
    of whole-stage codegen into interpreted eval, and its per-distinct-char
    ``filter`` is O(d·n) per row."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    t = F.col("text")
    chars = F.transform(
        F.sequence(F.lit(1), F.length(t)), lambda i: F.substring(t, i, F.lit(1))
    )
    ex = docs.filter(F.length(t) > 0).select("doc_id", F.explode(chars).alias("ch"))
    cnt = ex.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_chars"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        )
        .select(
            "doc_id",
            "n_chars",
            (
                F.lit(1.0)
                - F.col("s2") / (F.col("n_chars") * F.col("n_chars"))
            ).alias("simpson"),
        )
    )


CHAR_DIVERSITY_SQL = """
WITH ex AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(text) + 1),
                               i -> substring(text, CAST(i AS INT), 1))) AS ch
  FROM documents WHERE length(text) > 0
), cnt AS (
  SELECT doc_id, ch, count(*) AS c FROM ex GROUP BY doc_id, ch
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_chars,
       CAST(1.0 AS DOUBLE)
         - CAST(sum(c * c) AS BIGINT)
           / (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)) AS simpson
FROM cnt GROUP BY doc_id
"""


def dedup_prefix_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-duplicate pairs (:func:`operators.dedup.
    prefix_containment_pairs`): documents whose text is a prefix of
    another's — blocked self-join on the md5 of the first 32 chars, one
    16-byte-key shuffle, no all-pairs."""
    from duckdb_nats_jetstream_spark.operators import dedup as D

    return D.prefix_containment_pairs(read_table(spark, sf_dir, "documents"))


def _prefix_sql() -> str:
    from duckdb_nats_jetstream_spark.operators.dedup import (
        sql_prefix_containment,
    )

    return sql_prefix_containment()


def docs_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (:mod:`operators.cdc`): two synthetic snapshots
    carved from the documents table (old = id % 7 != 0, new = id % 5 != 0
    with every id % 3 == 0 doc edited), classified added / removed /
    changed / unchanged by content digest — one full-outer id join over
    (id, md5) pairs."""
    from duckdb_nats_jetstream_spark.operators.cdc import snapshot_diff

    docs = read_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


def _snapshot_diff_sql() -> str:
    from duckdb_nats_jetstream_spark.operators.cdc import sql_snapshot_diff

    return sql_snapshot_diff(
        "SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0",
        "SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END"
        " AS text FROM documents WHERE doc_id % 5 != 0",
    )


#: total token budget for the mixture plan (synthetic corpus scale)
_MIX_BUDGET = 200_000


def docs_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling plan: per-source token totals and corpus
    share, plus the per-source sampling rate that hits an equal-share token
    budget (``least(1, (budget/n_sources)/tokens)``) — the planning step
    before ``docs_weighted_mix`` executes the rates. One hash aggregation
    to source grain plus an unpartitioned window over the handful of
    source rows (grain = #sources, not #docs — safe at any corpus size)."""
    from pyspark.sql import Window as W

    docs = read_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = W.partitionBy()
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.sum("n_tokens").over(w)).alias("share"),
        F.least(
            F.lit(1.0),
            (F.lit(float(_MIX_BUDGET)) / F.count(F.lit(1)).over(w))
            / F.col("n_tokens"),
        ).alias("rate"),
    )


MIXTURE_PLAN_SQL = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum({TX.sql_token_count("text")}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       n_tokens / CAST(sum(n_tokens) OVER () AS BIGINT) AS share,
       least(CAST(1.0 AS DOUBLE),
             (CAST({_MIX_BUDGET}.0 AS DOUBLE) / count(*) OVER ())
               / n_tokens) AS rate
FROM per_src
"""


def scan_ewma_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subject EWMA of hourly message rates (α=0.25) — the trend/
    anomaly-baseline op of a metrics pipeline. One hash agg to
    (subject, hour) grain, then the smoothing folds over each subject's
    SORTED hourly series (bounded by the time range, not the corpus), so
    per-group state is small and the fold order is pinned. α=0.25 and
    1−α=0.75 are dyadic rationals: ``0.25·v`` is exact, ``0.75·acc`` one
    correctly-rounded multiply — both engines evaluate the identical IEEE
    sequence (DuckDB ``list_reduce`` seeds with the first element; Spark
    seeds ``aggregate`` with ``element_at(vals, 1)`` over the tail)."""
    from duckdb_nats_jetstream_spark.sources.message_scan import message_scan

    df = message_scan(spark, sf_dir)
    hourly = df.groupBy(
        "subject",
        F.expr("unix_micros(ts_nats) div 3600000000").alias("h"),
    ).agg(F.count(F.lit(1)).alias("c"))
    series = hourly.groupBy("subject").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("n_msgs"),
        F.array_sort(F.collect_list(F.struct("h", "c"))).alias("s"),
    )
    vals = F.transform(F.col("s"), lambda x: x["c"].cast("double"))
    ewma = F.aggregate(
        F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, v: F.lit(0.25) * v + F.lit(0.75) * acc,
    )
    return series.select("subject", "n_hours", "n_msgs", ewma.alias("ewma"))


def _ewma_sql() -> str:
    from duckdb_nats_jetstream_spark.queries.pipeline import _SCAN_CTE

    return (
        _SCAN_CTE
        + """, hourly AS (
  SELECT subject, epoch_us(ts_nats) // 3600000000 AS h, count(*) AS c
  FROM scan GROUP BY 1, 2
), series AS (
  SELECT subject,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(c) AS BIGINT) AS n_msgs,
         list_sort(list({'h': h, 'c': c})) AS s
  FROM hourly GROUP BY subject
)
SELECT subject, n_hours, n_msgs,
       list_reduce(list_transform(s, x -> CAST(x.c AS DOUBLE)),
                   (acc, v) -> CAST(0.25 AS DOUBLE) * v
                               + CAST(0.75 AS DOUBLE) * acc) AS ewma
FROM series
"""
    )


def rel_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit for two-column data skipping: bucket
    ``l_partkey`` / ``l_suppkey`` into 8-bit ranks with pure integer math
    (``(v − min)·256 // (max − min + 1)``), interleave the bits into a
    16-bit Morton key, and report per-key-prefix clustering stats (row
    count + both columns' min/max span). Writing the table sorted by this
    key is what makes min/max zone maps prune BOTH predicates at once —
    the stats this query emits are exactly the zone-map ranges a scan
    would skip on.

    Scale: min/max are one tiny agg (4 scalars to the driver — bounded);
    bucketing/interleave is row-local bit math; the stats are one hash agg
    on a 64-value key. All integer ops → bit-exact cross-engine."""
    li = read_table(spark, sf_dir, "lineitem")
    mm = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).collect()[0]
    p_mn, p_mx, s_mn, s_mx = mm[0], mm[1], mm[2], mm[3]

    staged = li.select(
        "l_partkey",
        "l_suppkey",
        # `div` = integer division (a double divide + floor can round a
        # just-below-integer quotient up — exact int math can't)
        F.expr(
            f"((l_partkey - {p_mn}) * 256) div {p_mx - p_mn + 1}"
        ).alias("pb"),
        F.expr(
            f"((l_suppkey - {s_mn}) * 256) div {s_mx - s_mn + 1}"
        ).alias("sb"),
    )
    pb, sb = F.col("pb"), F.col("sb")
    z = None
    for i in range(8):
        bit_p = F.shiftleft(F.shiftright(pb, i).bitwiseAND(F.lit(1)), 2 * i)
        bit_s = F.shiftleft(F.shiftright(sb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        z = bit_p + bit_s if z is None else z + bit_p + bit_s
    return (
        staged.select(z.cast("long").alias("zorder"), "l_partkey", "l_suppkey")
        .groupBy(F.expr("zorder div 1024").alias("zprefix"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("p_lo"),
            F.max("l_partkey").alias("p_hi"),
            F.min("l_suppkey").alias("s_lo"),
            F.max("l_suppkey").alias("s_hi"),
        )
    )


def _zorder_sql() -> str:
    # same two-pass shape: scalar-subquery min/max, then integer bit math
    pb = "((l_partkey - p_mn) * 256) // (p_mx - p_mn + 1)"
    sb = "((l_suppkey - s_mn) * 256) // (s_mx - s_mn + 1)"
    bits = " + ".join(
        f"((({pb} >> {i}) & 1) << {2 * i}) + ((({sb} >> {i}) & 1) << {2 * i + 1})"
        for i in range(8)
    )
    return f"""
WITH mm AS (
  SELECT min(l_partkey) AS p_mn, max(l_partkey) AS p_mx,
         min(l_suppkey) AS s_mn, max(l_suppkey) AS s_mx
  FROM lineitem
), z AS (
  SELECT CAST(({bits}) AS BIGINT) AS zorder, l_partkey, l_suppkey
  FROM lineitem, mm
)
SELECT zorder // 1024 AS zprefix, count(*) AS n_rows,
       min(l_partkey) AS p_lo, max(l_partkey) AS p_hi,
       min(l_suppkey) AS s_lo, max(l_suppkey) AS s_hi
FROM z GROUP BY 1
"""


def docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate documents must land
    in the SAME split (else eval leaks training content), so the split key
    is the doc's near-dup component (LSH pairs → connected components),
    falling back to the doc id for singletons. Assignment is the salted-md5
    hex-threshold trick the sampling operators use ('cc' ≈ 79.7 %,
    'e6' ≈ 89.8 % — identical lexicographic comparison in both engines),
    so the split is deterministic, engine-independent, and component-atomic
    by construction."""
    from duckdb_nats_jetstream_spark.operators import dedup as D2
    from duckdb_nats_jetstream_spark.operators.components import (
        connected_components,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = D2.minhash_lsh_pairs(docs, k=8, band_size=2, threshold=0.2)
    comp = connected_components(pairs, "id_a", "id_b", edges_unique=True)
    grp = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("grp"),
        )
    )
    h = F.md5(F.concat(F.lit("split:"), F.col("grp").cast("string")))
    split = (
        F.when(h < F.lit("cc"), F.lit("train"))
        .when(h < F.lit("e6"), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return grp.select("doc_id", "grp", split.alias("split"))


def _leakage_split_sql() -> str:
    from duckdb_nats_jetstream_spark.queries.pipeline import (
        _dedup_components_sql,
    )

    comp = _dedup_components_sql().replace("ORDER BY doc_id", "")
    return f"""
WITH comp AS ({comp}),
grp AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grp
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, grp,
       CASE WHEN md5('split:' || CAST(grp AS VARCHAR)) < 'cc' THEN 'train'
            WHEN md5('split:' || CAST(grp AS VARCHAR)) < 'e6' THEN 'val'
            ELSE 'test' END AS split
FROM grp
"""


def scan_fuzzy_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy subject matching (:mod:`operators.fuzzy`): distinct subject
    pairs at Levenshtein distance 1, found via symmetric-delete blocking —
    the entity-resolution/typo-clustering primitive. The oracle is the
    quadratic brute-force join the blocking avoids."""
    from duckdb_nats_jetstream_spark.operators.fuzzy import fuzzy_key_pairs
    from duckdb_nats_jetstream_spark.sources.message_scan import message_scan

    return fuzzy_key_pairs(message_scan(spark, sf_dir), "subject")


def _fuzzy_sql() -> str:
    from duckdb_nats_jetstream_spark.operators.fuzzy import sql_fuzzy_key_pairs
    from duckdb_nats_jetstream_spark.sources.message_scan import (
        EVENTS_ORACLE_SCAN_SQL,
    )

    return sql_fuzzy_key_pairs(
        f"SELECT subject AS s FROM ({EVENTS_ORACLE_SCAN_SQL})"
    )


def scan_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the message stream: users cohorted by their
    first-active 6-hour bucket; per (cohort, bucket-offset) distinct active
    users — the standard product-analytics retention triangle. Plan: one
    distinct to (user, bucket) grain, cohort via a per-user window MIN
    (the min-agg + join-back form re-scanned the events table — two
    ReadSchema entries in the plan; the window reuses the distinct's
    user-keyed shuffle), then one count-distinct keyed (cohort, offset).
    All integer bucket math; ONE table scan."""
    from pyspark.sql import Window as W

    from duckdb_nats_jetstream_spark.sources.message_scan import message_scan

    df = message_scan(spark, sf_dir)
    acts = (
        df.select(
            F.regexp_extract("subject", r"\.u(\d+)$", 1)
            .cast("long")
            .alias("user_id"),
            F.expr("unix_micros(ts_nats) div 21600000000").alias("b"),
        )
        # a NULL user (unparseable subject) is not a cohort member — and
        # the oracle's `JOIN cohorts USING (user_id)` drops NULL keys while
        # Spark's window would keep the NULL partition and emit phantom
        # (cohort, offset, n_users=0) rows (r10 review; the sibling
        # user-keyed queries guard both sides the same way)
        .filter(F.col("user_id").isNotNull())
        .distinct()
    )
    cohort = F.min("b").over(W.partitionBy("user_id"))
    return (
        acts.withColumn("cohort", cohort)
        .groupBy("cohort", (F.col("b") - F.col("cohort")).alias("offset"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


def _cohort_sql() -> str:
    from duckdb_nats_jetstream_spark.queries.pipeline import _SCAN_CTE

    return (
        _SCAN_CTE
        + r""", acts AS (
  SELECT DISTINCT
         CAST(regexp_extract(subject, '\.u(\d+)$', 1) AS BIGINT) AS user_id,
         epoch_us(ts_nats) // 21600000000 AS b
  FROM scan
), cohorts AS (
  SELECT user_id, min(b) AS cohort FROM acts GROUP BY user_id
)
SELECT cohort, b - cohort AS offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM acts JOIN cohorts USING (user_id)
GROUP BY 1, 2
"""
    )


def docs_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 capstone curation pipeline, composed from this round's
    operators: Gopher rule gate + corpus-frequency boilerplate ceiling +
    exact dedup (min-id representative) + strict truncation-duplicate
    removal (prefix containment), reported as per-source survivor counts
    and token totals. Every stage is the operator the individual queries
    verify; the composition shares one documents scan per stage and joins
    on doc_id — the shape a 100 TB curation run takes."""
    from pyspark.sql import Window as W

    from duckdb_nats_jetstream_spark.operators import dedup as D2
    from duckdb_nats_jetstream_spark.operators.boilerplate import (
        segment_boilerplate_stats,
    )

    docs = read_table(spark, sf_dir, "documents")
    g = text_gopher_filters(spark, sf_dir).select("doc_id", "keep")
    b = segment_boilerplate_stats(docs).select("doc_id", "boiler_frac")
    trunc = (
        D2.prefix_containment_pairs(docs)
        .filter(F.col("len_short") < F.col("len_long"))
        .select(F.col("id_short").alias("doc_id"))
        .distinct()
        .withColumn("is_trunc", F.lit(1))
    )
    w = W.partitionBy("fp").orderBy("doc_id")
    ranked = docs.select(
        "doc_id",
        "source",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.fingerprint(F.col("text")).alias("fp"),
    ).withColumn("rn", F.row_number().over(w))
    surv = (
        ranked.join(g, "doc_id")
        .join(b, "doc_id", "left")
        .join(trunc, "doc_id", "left")
        .filter(
            (F.col("keep") == 1)
            & (F.coalesce(F.col("boiler_frac"), F.lit(0.0)) <= 0.5)
            & (F.col("rn") == 1)
            & F.col("is_trunc").isNull()
        )
    )
    return surv.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


def _curation_v2_sql() -> str:
    from duckdb_nats_jetstream_spark.operators.boilerplate import (
        sql_segment_boilerplate,
    )
    from duckdb_nats_jetstream_spark.operators.dedup import (
        sql_prefix_containment,
    )

    return f"""
WITH g AS (
  SELECT doc_id, keep FROM ({_gopher_sql()}) gq
), b AS (
  SELECT doc_id, boiler_frac FROM ({sql_segment_boilerplate()}) bq
), trunc AS (
  SELECT DISTINCT id_short AS doc_id
  FROM ({sql_prefix_containment()}) pq WHERE len_short < len_long
), ranked AS (
  SELECT doc_id, source, {TX.sql_token_count('text')} AS n_tokens,
         row_number() OVER (
           PARTITION BY {TX.sql_fingerprint('text')} ORDER BY doc_id) AS rn
  FROM documents
)
SELECT r.source, count(*) AS n_docs,
       CAST(sum(r.n_tokens) AS BIGINT) AS n_tokens
FROM ranked r
JOIN g USING (doc_id)
LEFT JOIN b USING (doc_id)
LEFT JOIN trunc t ON t.doc_id = r.doc_id
WHERE g.keep = 1
  AND coalesce(b.boiler_frac, CAST(0.0 AS DOUBLE)) <= CAST(0.5 AS DOUBLE)
  AND r.rn = 1
  AND t.doc_id IS NULL
GROUP BY r.source
"""


def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM waveform audit (:func:`operators.multimodal.audio_waveform_stats`)
    over payload bytes inflated ×8 into synthetic audio clips — the
    audio-modality plumbing (binary → typed features) with every signal an
    exact integer, so the oracle re-decodes the samples from hex and must
    agree bit-for-bit (including the column-side RMS)."""
    from duckdb_nats_jetstream_spark.operators.multimodal import (
        audio_waveform_stats,
    )
    from duckdb_nats_jetstream_spark.sources.message_scan import message_scan

    src = message_scan(spark, sf_dir, start_seq=1, end_seq=500)
    media = src.select(
        F.col("seq").alias("media_id"),
        F.concat(*([F.coalesce(F.col("payload"), F.lit(b""))] * 8)).alias("data"),
    )
    return audio_waveform_stats(media)


def _audio_stats_sql() -> str:
    from duckdb_nats_jetstream_spark.queries.pipeline import _SCAN_CTE

    # sample i (0-based): low byte at hex pos 4i+1, high at 4i+3 (LE int16)
    raw = (
        "CAST('0x' || substr(hx, CAST(4 * i + 1 AS BIGINT), 2) AS INT) "
        "+ 256 * CAST('0x' || substr(hx, CAST(4 * i + 3 AS BIGINT), 2) AS INT)"
    )
    return (
        _SCAN_CTE
        + f""", b AS (
  SELECT seq AS media_id,
         repeat(lower(hex(coalesce(payload, '')::BLOB)), 8) AS hx
  FROM scan WHERE seq BETWEEN 1 AND 500
), n AS (
  SELECT media_id, hx, length(hx) // 4 AS ns FROM b
), s AS (
  SELECT media_id, ns,
         list_transform(range(0, ns),
                        i -> CASE WHEN {raw} >= 32768
                                  THEN ({raw}) - 65536
                                  ELSE {raw} END) AS xs
  FROM n
)
SELECT media_id,
       CAST(ns AS BIGINT) AS n_samples,
       CAST(coalesce(list_max(list_transform(xs, x -> abs(x))), 0) AS BIGINT)
         AS peak,
       CAST(coalesce(list_sum(list_transform(xs, x -> CAST(x AS BIGINT) * x)), 0)
            AS BIGINT) AS sum_sq,
       CAST(len(list_filter(range(1, ns),
                i -> (xs[CAST(i AS INT)] >= 0)
                     != (xs[CAST(i + 1 AS INT)] >= 0))) AS BIGINT)
         AS zero_crossings,
       CASE WHEN ns > 0
            THEN sqrt(CAST(coalesce(list_sum(
                   list_transform(xs, x -> CAST(x AS BIGINT) * x)), 0) AS BIGINT)
                 / CAST(ns AS BIGINT))
            ELSE CAST(0.0 AS DOUBLE) END AS rms
FROM s
"""
    )


def docs_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-score percentile normalization: map each doc's
    quality score to its ``percent_rank`` WITHIN its source — the
    calibration step before cross-domain quality thresholds (a 0.6 in a
    clean domain and a 0.6 in a noisy one mean different things).
    ``percent_rank = (rank−1)/(n−1)`` is an exact integer ratio, so the
    oracle matches bit-for-bit. Window partitioned by source — per-source
    sort, distributed across sources at scale."""
    from pyspark.sql import Window as W

    docs = spread(read_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id", "source", TX.quality_score(TX.tokens(F.col("text"))).alias("qs")
    )
    w = W.partitionBy("source").orderBy("qs", "doc_id")
    return scored.select(
        "doc_id", "source", "qs", F.percent_rank().over(w).alias("q_pct")
    )


QUALITY_PERCENTILE_SQL = f"""
SELECT doc_id, source, qs,
       percent_rank() OVER (PARTITION BY source ORDER BY qs, doc_id) AS q_pct
FROM (SELECT doc_id, source, {TX.sql_quality_score(_TOKS)} AS qs FROM documents) t
"""


def docs_domain_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift audit: chi-square statistic of each source's token
    distribution against the corpus distribution over the corpus's top-50
    tokens (transcendental-free alternative to KL divergence — log's last
    ulp differs cross-engine; χ² is subtract/square/divide in one pinned
    order). High values mark sources whose vocabulary diverges from the
    mixture — the signal a curation run uses to reweight or quarantine a
    domain. Plan: one (source, token) hash agg, a broadcast of the top-50
    corpus rows, and a per-source fold over the SORTED token list."""
    tok = spread(read_table(spark, sf_dir, "documents")).select(
        "source", F.explode(TX.tokens(F.col("text"))).alias("token")
    )
    # cached (r13): three consumers below (corpus top-50, per-source
    # totals, the scoring join) each replanned the tokenize→explode→agg
    # subtree — three corpus scans instead of one.
    st = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("o"))
    corpus = (
        st.groupBy("token")
        .agg(F.sum("o").alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(50)
    )
    totals = st.groupBy("source").agg(F.sum("o").alias("src_total"))
    corpus_total = corpus.agg(F.sum("c").alias("ct"))
    # 50-row (token, c, ct) side is explicitly broadcast: the cross joins
    # plan as BroadcastNestedLoopJoin over a tiny build side, never a
    # shuffled cartesian
    small = F.broadcast(corpus.crossJoin(F.broadcast(corpus_total)))
    j = (
        totals.crossJoin(small)
        .join(st, ["source", "token"], "left")
        .select(
            "source",
            "token",
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o"),
            "c",
            "src_total",
            "ct",
        )
    )
    # fold over tokens sorted by name so the double sum order is pinned
    per_tok = j.select(
        "source",
        "src_total",
        F.struct("token", "o", "c", "ct").alias("s"),
    )
    agg = per_tok.groupBy("source", "src_total").agg(
        F.array_sort(F.collect_list("s")).alias("xs")
    )
    term = lambda acc, x: acc + (  # noqa: E731
        (x["o"] - (x["c"] * F.col("src_total")) / x["ct"])
        * (x["o"] - (x["c"] * F.col("src_total")) / x["ct"])
    ) / ((x["c"] * F.col("src_total")) / x["ct"])
    out = agg.select(
        "source",
        F.col("src_total").cast("long").alias("n_tokens"),
        F.aggregate("xs", F.lit(0.0), term).alias("chi2"),
    )
    with cached(st):
        return out.localCheckpoint(eager=True)


DOMAIN_SHIFT_SQL = f"""
WITH tok AS (
  SELECT source, unnest({_TOKS}) AS token FROM documents
), st AS (
  SELECT source, token, count(*) AS o FROM tok GROUP BY 1, 2
), corpus AS (
  SELECT token, sum(o) AS c FROM st GROUP BY token
  ORDER BY c DESC, token LIMIT 50
), ctot AS (SELECT sum(c) AS ct FROM corpus),
totals AS (SELECT source, CAST(sum(o) AS BIGINT) AS src_total FROM st GROUP BY source),
j AS (
  SELECT t.source, t.src_total, cp.token,
         CAST(coalesce(s.o, 0) AS BIGINT) AS o,
         CAST(cp.c AS BIGINT) AS c, CAST(ctot.ct AS BIGINT) AS ct
  FROM totals t CROSS JOIN corpus cp CROSS JOIN ctot
  LEFT JOIN st s ON s.source = t.source AND s.token = cp.token
), packed AS (
  SELECT source, src_total,
         list_sort(list({{'token': token, 'o': o, 'c': c, 'ct': ct}})) AS xs
  FROM j GROUP BY source, src_total
)
SELECT source, src_total AS n_tokens,
       list_reduce(
         list_prepend(CAST(0 AS DOUBLE),
           list_transform(xs, x ->
             ((x.o - (x.c * src_total) / x.ct)
              * (x.o - (x.c * src_total) / x.ct))
             / ((x.c * src_total) / x.ct))),
         (acc, v) -> acc + v) AS chi2
FROM packed
"""


def docs_chunk_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — the complement of sequence packing: split
    each document into ≤64-token chunks with an 8-token overlap (stride
    56), the standard long-document preparation for a fixed context
    window. Row-local array slicing (explode of per-row chunk indices) —
    rides the scan; the md5 digest pins every chunk's exact content for
    the oracle."""
    size, stride = 64, 56
    docs = spread(read_table(spark, sf_dir, "documents"))
    toks = TX.tokens(F.col("text"))
    n = F.size(toks)
    # chunk starts: 0, stride, 2·stride … while start < n (last chunk may
    # be short); empty docs yield none
    n_chunks = F.when(n > 0, F.floor((n - 1) / stride) + 1).otherwise(F.lit(0))
    idxs = F.when(
        n_chunks > 0, F.sequence(F.lit(0), (n_chunks - 1).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    chunked = docs.select(
        "doc_id",
        toks.alias("__t"),
        F.explode(idxs).alias("chunk_no"),
    )
    chunk = F.slice(F.col("__t"), F.col("chunk_no") * stride + 1, size)
    return chunked.select(
        "doc_id",
        F.col("chunk_no").cast("long").alias("chunk_no"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


CHUNK_SEQUENCES_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), idx AS (
  SELECT doc_id, t,
         unnest(range(0, CASE WHEN len(t) > 0
                              THEN (len(t) - 1) // 56 + 1 ELSE 0 END)) AS i
  FROM tok
), ch AS (
  SELECT doc_id, i,
         t[CAST(i * 56 + 1 AS INT):CAST(i * 56 + 64 AS INT)] AS c
  FROM idx
)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_no,
       CAST(len(c) AS BIGINT) AS n_tokens,
       md5(array_to_string(c, ' ')) AS chunk_md5
FROM ch
"""


def scan_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a feature-store staleness bound: each error event
    takes the user's most recent click ONLY if it is at most 6 hours old —
    older matches are nulled as if absent (stale features are worse than
    missing ones). Same union+window plan as ``scan_asof_join``; the bound
    is one row-local predicate after the window."""
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
        # deterministic tie-break — see scan_asof_join (r10 review)
        tie_col="event_id",
        tolerance_us=6 * 3600 * 1_000_000,
    )


ASOF_TOLERANCE_SQL = """
SELECT l.event_id, l.user_id, l.ts, l.value,
       CASE WHEN r.ts IS NOT NULL
             AND epoch_us(l.ts) - epoch_us(r.ts) <= 21600000000
            THEN r.event_id END AS click_id,
       CASE WHEN r.ts IS NOT NULL
             AND epoch_us(l.ts) - epoch_us(r.ts) <= 21600000000
            THEN r.value END AS click_value
FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'error') l
ASOF LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
                FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


QUERIES = {
    "text_gopher_filters": (text_gopher_filters, _gopher_sql()),
    "sim_knn_join": (sim_knn_join, S.sql_knn_join(k=3)),
    "docs_boilerplate": (docs_boilerplate, _boilerplate_sql()),
    "multimodal_frame_sample": (multimodal_frame_sample, _frame_sample_sql()),
    "dedup_prefix_containment": (dedup_prefix_containment, _prefix_sql()),
    "docs_snapshot_diff": (docs_snapshot_diff, _snapshot_diff_sql()),
    "docs_mixture_plan": (docs_mixture_plan, MIXTURE_PLAN_SQL),
    "scan_ewma_trend": (scan_ewma_trend, _ewma_sql()),
    "rel_zorder_layout": (rel_zorder_layout, _zorder_sql()),
    "docs_leakage_safe_split": (docs_leakage_safe_split, _leakage_split_sql()),
    "scan_fuzzy_subjects": (scan_fuzzy_subjects, _fuzzy_sql()),
    "scan_cohort_retention": (scan_cohort_retention, _cohort_sql()),
    "docs_curation_v2": (docs_curation_v2, _curation_v2_sql()),
    "multimodal_audio_stats": (multimodal_audio_stats, _audio_stats_sql()),
    "docs_quality_percentile": (docs_quality_percentile, QUALITY_PERCENTILE_SQL),
    "docs_domain_shift": (docs_domain_shift, DOMAIN_SHIFT_SQL),
    "docs_chunk_sequences": (docs_chunk_sequences, CHUNK_SEQUENCES_SQL),
    "scan_asof_tolerance": (scan_asof_tolerance, ASOF_TOLERANCE_SQL),
    "text_char_diversity": (text_char_diversity, CHAR_DIVERSITY_SQL),
    "sim_quantize_int8": (sim_quantize_int8, S.sql_quantize_int8()),
    "sim_bucket_centroids": (sim_bucket_centroids, S.sql_bucket_centroids()),
    "dedup_winnow_capped": (dedup_winnow_capped, _winnow_capped_sql()),
    "dedup_span_fraction": (dedup_span_fraction, _span_sql()),
    "docs_quality_quantiles": (docs_quality_quantiles, QUALITY_QUANTILES_SQL),
    "rel_forecast_revenue": (rel_forecast_revenue, FORECAST_REVENUE_SQL),
}
